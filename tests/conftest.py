import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("bayard_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmp_index_root():
    d = tempfile.mkdtemp(prefix="bayard_idx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def built(spark, tmp_index_root):
    import numpy as np
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.oracle import OracleIndex
    from bayard_spark.query import SearchEngine
    from bayard_spark.schema import webtext_index_meta
    from bayard_spark.sources.webtext import synthesize_batch, webtext_df
    N_DOCS = 600

    meta = webtext_index_meta(
        num_buckets=8, salt_span=100, hot_df_threshold=250
    )
    src = webtext_df(spark, N_DOCS, partitions=8)
    builder = IndexBuilder(spark, meta, tmp_index_root)
    builder.build(src)
    engine = SearchEngine(spark, tmp_index_root)

    # oracle over the SAME docs (synthesize driver-side, same seed)
    pdf = synthesize_batch(np.arange(N_DOCS))
    # replicate upsert+id assignment: urls unique here, ids by engine's docs
    docs = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(builder.paths.docs)
        .select("url", "doc_id")
        .collect()
    }
    oracle = OracleIndex(
        analyzers=engine.analyzers,
        field_analyzers={"url": "raw", "text": "default", "lang": "raw"},
    )
    for row in pdf.itertuples(index=False):
        oracle.add(
            docs[row.url],
            {"url": row.url, "text": row.text, "lang": row.lang},
        )
    return engine, oracle


@pytest.fixture(scope="session")
def pruned_idx(spark):
    """1600 docs, every one containing 'common' (df=1600 > 1024 gate), with a
    planted score gradient: doc i repeats 'common' (i % 5 + 1) times inside
    filler, so high-tf docs are scattered across blocks.

    Shared by test_block_max_pruning.py (whose TestTombstonePruning
    deletes 20 docs), test_regex_expansion.py and test_response_path.py."""
    from pyspark.sql import functions as F

    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta

    n = 1600  # > 8 * block_size(128) so the pruning gate opens for 'common'
    root = tempfile.mkdtemp(prefix="prune_idx_")
    rows = []
    for i in range(n):
        reps = " ".join(["common"] * (i % 5 + 1))
        filler = " ".join(f"w{j}" for j in range((i * 7) % 11 + 3))
        rows.append((f"https://p.example/{i:05d}", f"2024-01-01 00:{i % 60:02d}:00",
                     f"{filler} {reps}", "en"))
    src = spark.createDataFrame(
        rows, "url string, warc_ts string, text string, lang string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    meta = webtext_index_meta(num_buckets=4)
    builder = IndexBuilder(spark, meta, root)
    builder.build(src, resume=False)
    yield spark, root, builder
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture()
def on_site():
    """on_site(engine, "driver" | "spark"): a context in which `engine`
    answers search() at that execution site. It sets and then deletes an
    instance attribute, so a class-level gate patched elsewhere still
    reaches the shared engines afterwards."""
    from contextlib import contextmanager

    @contextmanager
    def at(engine, site):
        assert site in ("driver", "spark")
        engine.DRIVER_MAX_POSTINGS = 1 << 62 if site == "driver" else 0
        try:
            yield engine
        finally:
            del engine.DRIVER_MAX_POSTINGS

    return at
