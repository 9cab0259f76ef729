"""Snapshot open and schema-pinned index reads.

A SearchEngine over an index with committed segments and tombstones opens
with zero Spark jobs: every table read carries an explicit schema, the
commit log is read once, and stats and the term dictionary come from the
parquet files through pyarrow. These tests pin that, and that what the
engine reads equals what Spark's own schema-inferring reads return.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
import shutil
import tempfile

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.build.segments import (
    CommitLog,
    SegmentWriter,
    load_tombstones,
)
from bayard_spark.query import SearchEngine
from bayard_spark.schema import webtext_index_meta
from bayard_spark.sources.webtext import (
    WEBTEXT_SCHEMA,
    synthesize_batch,
    webtext_df,
)

_groups = itertools.count()


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    gid = f"snapshot-open-{next(_groups)}"
    sc.setJobGroup(gid, "test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def batch(spark, first_id, n, reput=()):
    pdf = synthesize_batch(np.arange(first_id, first_id + n), 7)
    if reput:
        pdf.loc[n - len(reput):, "url"] = list(reput)
    return spark.createDataFrame(pdf, WEBTEXT_SCHEMA)


@pytest.fixture(scope="module")
def snapshot(spark):
    """200-doc base, then three committed puts: one with re-puts of base
    urls plus a delete, one whose docs lack the base's `html` column, and
    one that carries a `note` column the base lacks."""
    root = tempfile.mkdtemp(prefix="snap_idx_")
    builder = IndexBuilder(spark, webtext_index_meta(num_buckets=4), root)
    builder.build(webtext_df(spark, 200, partitions=4))
    base_urls = sorted(
        r["url"] for r in spark.read.parquet(builder.paths.docs).collect()
    )
    w = SegmentWriter(spark, builder)
    w.put_documents(batch(spark, 1000, 20, reput=base_urls[:3]))
    w.delete_documents(base_urls[3:5])
    w.commit()
    w.put_documents(batch(spark, 1100, 5).drop("html"))
    w.commit()
    w.put_documents(
        batch(spark, 1200, 5).withColumn("note", F.lit("extra"))
    )
    w.commit()
    yield root, builder, base_urls
    shutil.rmtree(root, ignore_errors=True)


def spark_visible_docs(spark, root, state):
    """The pre-footer reference: one schema-inferring read per table,
    unioned by name, tombstones anti-joined."""
    out = spark.read.parquet(os.path.join(root, "docs"))
    for seg in state["segments"]:
        out = out.unionByName(
            spark.read.parquet(os.path.join(root, "segments", seg, "docs")),
            allowMissingColumns=True,
        )
    ts = spark.read.parquet(*state["tombstones"]).select("doc_id")
    return out.join(ts, "doc_id", "left_anti")


def spark_visible_postings(spark, builder, root):
    """The pre-footer reference: a schema-inferring read of every wave,
    filtered to the base waves and the committed segments."""
    committed = CommitLog(root).committed_segments()
    post = spark.read.option("basePath", builder.paths.postings).parquet(
        os.path.join(builder.paths.postings, "wave=*")
    )
    return post.filter(
        F.col("wave").cast("string").rlike(r"^\d+$")
        | F.col("wave").isin(committed)
    )


def rows(df):
    return sorted(
        (r.asDict() for r in df.collect()), key=lambda d: d["doc_id"]
    )


class TestSnapshotOpen:
    def test_open_runs_no_spark_job(self, spark, snapshot):
        root, _, _ = snapshot
        engine, n_jobs = spark_jobs(spark, lambda: SearchEngine(spark, root))
        assert n_jobs == 0
        assert engine.tombstones is not None and engine._dict_complete

    def test_stats_and_dictionary_match_spark_reads(self, spark, snapshot):
        root, builder, _ = snapshot
        engine = SearchEngine(spark, root)
        want_stats = {
            r["field"]: {"n_docs": r["n_docs"], "avg_len": r["avg_len"]}
            for r in spark.read.parquet(builder.paths.stats).collect()
        }
        assert engine.stats == want_stats

        post = spark_visible_postings(spark, builder, root)
        want = {
            (r["field"], r["term"]): (int(r["df"]), int(r["b"]))
            for r in post.groupBy("field", "term")
            .agg(F.sum("n_docs").alias("df"), F.first("bucket").alias("b"))
            .collect()
        }
        got = {
            k: (df, engine._bucket_cache[k[1]])
            for k, df in engine._df_cache.items()
        }
        assert got == want
        # segment terms are in the dictionary
        assert any(b.startswith("seg") for b in post.select("wave")
                   .distinct().toPandas()["wave"].astype(str))
        assert sorted(
            (f.name, f.dataType) for f in engine.postings.schema
        ) == sorted(
            (f.name, f.dataType) for f in post.drop("wave").schema
        )

    def test_docs_match_union_by_name_of_spark_reads(self, spark, snapshot):
        root, _, base_urls = snapshot
        engine = SearchEngine(spark, root)
        state = CommitLog(root).read()
        want = spark_visible_docs(spark, root, state)
        assert engine.docs.schema == want.schema
        assert isinstance(engine.docs.schema["warc_ts"].dataType,
                          TimestampNTZType)
        got_rows, want_rows = rows(engine.docs), rows(want)
        assert got_rows == want_rows
        # the drifted columns: base docs carry html and no note; the last
        # segment carries note; the html-less segment reads html as null
        by_url = {}
        for d in got_rows:
            by_url.setdefault(d["url"], []).append(d)
        assert all(len(v) == 1 for v in by_url.values())
        assert len(by_url) == 200 - 2 + 20 - 3 + 5 + 5
        assert {d["note"] for d in got_rows} == {None, "extra"}
        assert sum(d["note"] == "extra" for d in got_rows) == 5
        assert sum(d["html"] is None for d in got_rows) == 5
        for u in base_urls[3:5]:
            assert u not in by_url

    def test_tombstones_match_spark_read(self, spark, snapshot):
        root, builder, _ = snapshot
        state = CommitLog(root).read()
        got = load_tombstones(spark, builder.paths, state)
        want = spark.read.parquet(*state["tombstones"]).select("doc_id")
        assert got.schema == want.distinct().schema
        assert sorted(r[0] for r in got.collect()) == sorted(
            {r[0] for r in want.collect()}
        )

    def test_over_cap_dictionary_falls_back_to_lazy_lookups(
        self, spark, snapshot, monkeypatch
    ):
        root, _, _ = snapshot
        full = SearchEngine(spark, root)
        monkeypatch.setattr(SearchEngine, "MAX_DICT_TERMS", 10)
        engine = SearchEngine(spark, root)
        assert not engine._dict_complete
        assert engine._df_cache == {} and engine._bucket_cache == {}
        q = {
            "query": {"kind": "term",
                      "options": {"field": "text", "term": "water"}},
            "collection_kind": "count_and_top_docs",
            "hits": 5,
        }
        a, b = full.search(q), engine.search(q)
        assert a.total_hits == b.total_hits > 0
        assert [d["id"] for d in a.documents] == [d["id"] for d in b.documents]

    def test_dictionary_cap_counts_terms_not_blocks(
        self, spark, snapshot, monkeypatch
    ):
        """The cap is on distinct (field, term) pairs: an index with more
        blocks, or more per-wave runs of blocks, than the cap still
        preloads its dictionary."""
        root, builder, _ = snapshot
        full = SearchEngine(spark, root)
        post = spark_visible_postings(spark, builder, root)
        n_blocks = post.count()
        n_runs = post.filter(F.col("block_id") == 0).count()
        n_terms = len(full._df_cache)
        assert n_blocks > n_runs > n_terms

        # blocks over the cap, runs within: decided from the files alone
        monkeypatch.setattr(SearchEngine, "MAX_DICT_TERMS", n_runs)
        engine, n_jobs = spark_jobs(spark, lambda: SearchEngine(spark, root))
        assert n_jobs == 0
        assert engine._dict_complete and engine._df_cache == full._df_cache

        # runs over the cap, distinct terms within: a Spark count decides
        monkeypatch.setattr(SearchEngine, "MAX_DICT_TERMS", n_terms)
        engine, n_jobs = spark_jobs(spark, lambda: SearchEngine(spark, root))
        assert n_jobs > 0
        assert engine._dict_complete and engine._df_cache == full._df_cache
        assert engine._bucket_cache == full._bucket_cache

class TestSegmentPut:
    def test_segment_docs_use_index_compression(self, spark, snapshot):
        root, builder, _ = snapshot
        seg = CommitLog(root).committed_segments()[0]
        seg_docs = os.path.join(root, "segments", seg, "docs")
        files = [f for f in os.listdir(seg_docs) if f.endswith(".parquet")]
        assert files
        for f in files:
            md = pq.read_metadata(os.path.join(seg_docs, f))
            assert md.row_group(0).column(0).compression == (
                builder.meta.docstore_compression.upper()
            )

    def test_put_leaves_nothing_persisted(self, spark, snapshot):
        _, builder, _ = snapshot
        persisted = spark.sparkContext._jsc.getPersistentRDDs()
        before = persisted.size()
        w = SegmentWriter(spark, builder)
        w.put_documents(batch(spark, 1300, 3))
        w.rollback()
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


class TestFetchStored:
    def test_large_fetch_leaves_arrow_conf_alone(
        self, spark, snapshot, monkeypatch
    ):
        """The session conf is shared by every client thread, so the
        fetch must not set it, even temporarily."""
        from pyspark.sql.conf import RuntimeConfig

        root, _, _ = snapshot
        engine = SearchEngine(spark, root)
        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            live = [r["doc_id"] for r in engine.docs.select("doc_id").collect()]
            # pad past the IN-list gate with ids no doc has
            ids = live + list(
                range(10**9, 10**9 + engine.ISIN_LOOKUP_MAX + 1)
            )
            sets = []
            with monkeypatch.context() as m:
                m.setattr(RuntimeConfig, "set",
                          lambda self, k, v: sets.append((k, v)))
                fetched = engine._fetch_stored(ids, ["url", "lang"])
            assert sets == []
            assert spark.conf.get(key) == "false"
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        want = {
            r["doc_id"]: r.asDict()
            for r in engine.docs.select("doc_id", "url", "lang").collect()
        }
        assert fetched == want


def test_prev_round_queries_returns_queries_dict():
    """bench.py reads the newest BENCH_r*.json in the repo root; every
    candidate there must carry a queries dict."""
    path = os.path.join(os.path.dirname(__file__), os.pardir, "bench.py")
    spec = importlib.util.spec_from_file_location("bench_under_test", path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    name, queries = bench._prev_round_queries()
    assert name.startswith("BENCH_r")
    assert isinstance(queries, dict) and queries
