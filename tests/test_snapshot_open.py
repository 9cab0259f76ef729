"""Snapshot open and schema-pinned index reads.

A SearchEngine over an index with committed segments and tombstones opens
with zero Spark jobs: every table read carries an explicit schema, the
commit log is read once and carries the stats, and the term dictionary
comes from the parquet files through pyarrow. These tests pin that, and
that what the engine reads equals what Spark's own schema-inferring reads
return.
"""

from __future__ import annotations

import glob
import importlib.util
import itertools
import os
import shutil
import tempfile
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from bayard_spark.build import segments
from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.build.segments import (
    CommitLog,
    SegmentWriter,
    Snapshot,
    merge_segments,
)
from bayard_spark.query import SearchEngine
from bayard_spark.schema import IndexPaths, webtext_index_meta
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
    """The pre-footer reference: a schema-inferring read of the base waves
    (hive-partitioned by wave, field and bucket) unioned with one of each
    committed segment's single file (field and bucket as data columns),
    tagged with its wave."""
    post = spark.read.option("basePath", builder.paths.postings).parquet(
        os.path.join(builder.paths.postings, "wave=[0-9]*")
    ).withColumn("wave", F.col("wave").cast("string"))
    for seg in CommitLog(root).committed_segments():
        post = post.unionByName(
            spark.read.parquet(
                os.path.join(builder.paths.postings, f"wave={seg}")
            ).withColumn("wave", F.lit(seg)),
            allowMissingColumns=True,
        )
    return post


def rows(df):
    return sorted(
        (r.asDict() for r in df.collect()), key=lambda d: d["doc_id"]
    )


class TestSnapshotOpen:
    def test_open_runs_no_spark_job(self, spark, snapshot):
        root, _, _ = snapshot
        engine, n_jobs = spark_jobs(spark, lambda: SearchEngine(spark, root))
        assert n_jobs == 0
        assert engine._n_tombstones > 0 and engine._dict_complete

    def test_open_reads_each_footer_and_lists_each_table_once(
        self, spark, snapshot, monkeypatch
    ):
        """One open, on a snapshot with three segments and a delete, reads
        the footer of every docs and tombstone file exactly once and lists
        each table directory once."""
        root, _, base_urls = snapshot
        state = CommitLog(root).read()
        assert len(state["segments"]) == 3
        assert any(t.endswith("_del.parquet") for t in state["tombstones"])
        footers, listings = Counter(), Counter()
        read_metadata, parquet_files = pq.read_metadata, segments.parquet_files

        def count_footer(where, *args, **kwargs):
            footers[where] += 1
            return read_metadata(where, *args, **kwargs)

        def count_listing(io, path):
            listings[path] += 1
            return parquet_files(io, path)

        monkeypatch.setattr(pq, "read_metadata", count_footer)
        monkeypatch.setattr(segments, "parquet_files", count_listing)
        SearchEngine(spark, root)
        want = {
            f for pattern in ("docs", "segments/*/docs", "tombstones/*.parquet")
            for f in glob.glob(os.path.join(root, pattern, "*.parquet"))
        }
        assert set(footers) == want
        assert set(footers.values()) == {1}
        assert set(listings.values()) == {1}
        # a put's or a delete's url lookup reads no docs footer
        footers.clear()
        snap = Snapshot(IndexPaths(root))
        assert snap.live_url_ids(pa.array(base_urls[:5])).size == 3
        assert set(footers) == {f for f in want if "/tombstones/" in f}

    def test_search_after_open_reads_no_docs_footer(
        self, spark, snapshot, monkeypatch
    ):
        """The winners' stored columns are read with the footers the
        engine's snapshot read at open: each docs file is opened with its
        cached footer, and no footer is read or parsed again."""
        root, _, _ = snapshot
        engine = SearchEngine(spark, root)
        footers, opened = [], []
        read_metadata, parquet_file = pq.read_metadata, pq.ParquetFile

        def count_footer(where, *args, **kwargs):
            footers.append(where)
            return read_metadata(where, *args, **kwargs)

        def no_read_table(*args, **kwargs):
            raise AssertionError("pq.read_table parses the footer again")

        class CachedFooterFile(parquet_file):
            def __init__(self, source, *args, metadata=None, **kwargs):
                opened.append((source, metadata))
                super().__init__(source, *args, metadata=metadata, **kwargs)

        monkeypatch.setattr(pq, "read_metadata", count_footer)
        monkeypatch.setattr(pq, "read_table", no_read_table)
        monkeypatch.setattr(pq, "ParquetFile", CachedFooterFile)
        resp = engine.search({
            "query": {"kind": "term",
                      "options": {"field": "text", "term": "water"}},
            "hits": 50,
            "fields": ["url", "html"],
        })
        assert resp.documents and footers == []
        cached = {f: md for f, _, md, _ in engine._doc_files}
        assert opened and all(cached[f] is md for f, md in opened)

    def test_stats_and_dictionary_match_spark_reads(self, spark, snapshot):
        """The stats are the build's: per field, Σ tf over the base blocks
        (decoded block by block) over the base docs' Spark count."""
        from bayard_spark.build.codec import decode_block

        root, builder, _ = snapshot
        engine = SearchEngine(spark, root)
        total_len = Counter()
        for r in spark.read.parquet(
            os.path.join(builder.paths.postings, "wave=0")
        ).select("field", "doc_bytes", "tf_bytes").collect():
            total_len[r["field"]] += int(
                decode_block(r["doc_bytes"], r["tf_bytes"])[1].sum()
            )
        n_docs = spark.read.parquet(builder.paths.docs).count()
        assert n_docs == 200
        assert engine.stats == {
            f: {"n_docs": n_docs, "avg_len": total_len[f] / n_docs}
            for f in ("url", "text", "lang")
        }

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
        cols = ["field", "bucket", "term", "block_id", "n_docs", "doc_bytes"]
        assert sorted(map(tuple, engine.postings.select(*cols).collect())) == \
            sorted(map(tuple, post.select(*cols).collect()))

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
        got = Snapshot(builder.paths, state).tombstones(spark)
        want = spark.read.parquet(*state["tombstones"]).select("doc_id")
        assert got.schema == want.schema
        assert sorted(r[0] for r in got.collect()) == sorted(
            r[0] for r in want.collect()
        )

    def test_over_cap_dictionary_falls_back_to_lazy_lookups(
        self, spark, snapshot, monkeypatch
    ):
        root, _, _ = snapshot
        full = SearchEngine(spark, root)
        monkeypatch.setattr(SearchEngine, "MAX_DICT_TERMS", 10)
        engine = SearchEngine(spark, root)
        assert not engine._dict_complete
        assert len(engine._df_cache) == len(engine._bucket_cache) == 0
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
    def test_segment_docs_use_index_compression(
        self, spark, snapshot, tmp_path
    ):
        root, builder, _ = snapshot
        seg = CommitLog(root).committed_segments()[0]
        # a merge rewrites the doc store: same codec as a put's segment
        merged = IndexBuilder(
            spark, webtext_index_meta(num_buckets=4), str(tmp_path)
        )
        merged.build(webtext_df(spark, 40, partitions=2))
        w = SegmentWriter(spark, merged)
        w.put_documents(batch(spark, 1000, 5))
        w.commit()
        merge_segments(spark, merged)
        for docs_dir, meta in (
            (os.path.join(root, "segments", seg, "docs"), builder.meta),
            (merged.paths.docs, merged.meta),
        ):
            files = [
                f for f in os.listdir(docs_dir) if f.endswith(".parquet")
            ]
            assert files
            for f in files:
                md = pq.read_metadata(os.path.join(docs_dir, f))
                assert md.row_group(0).column(0).compression == (
                    meta.docstore_compression.upper()
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
    def test_fetch_of_drifted_segments_equals_spark_collect(
        self, spark, snapshot
    ):
        """The driver-side read of stored columns across the base store and
        segments whose columns drifted (no html; an extra note) equals a
        Spark collect of the unioned docs, timestamp_ntz included."""
        root, _, _ = snapshot
        engine = SearchEngine(spark, root)
        cols = ["url", "warc_ts", "html", "note", "lang"]
        want = {
            r["doc_id"]: r.asDict()
            for r in engine.docs.select("doc_id", *cols).collect()
        }
        got = engine._fetch_stored(sorted(want), cols)
        assert got == want
        assert {type(r["warc_ts"]) for r in got.values()} == {
            type(next(iter(want.values()))["warc_ts"])
        }


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


def _mini_builder(spark, tmp_path_factory):
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta
    from bayard_spark.sources.webtext import webtext_df

    root = str(tmp_path_factory.mktemp("resv_idx"))
    meta = webtext_index_meta(num_buckets=4)
    builder = IndexBuilder(spark, meta, root)
    builder.build(webtext_df(spark, 40, partitions=2))
    return builder


def test_preload_cap_is_byte_sized(spark, tmp_path_factory):
    from bayard_spark.query import SearchEngine

    builder = _mini_builder(spark, tmp_path_factory)
    root = builder.paths.root

    class TinyCapEngine(SearchEngine):
        MAX_DICT_BYTES = 256  # force the wide-vocabulary fallback

    engine = TinyCapEngine(spark, root)
    assert not engine._dict_complete, "byte cap must skip the preload"
    # lazy metadata lookups still answer correctly
    resp = engine.search(
        {
            "query": {
                "kind": "term", "options": {"field": "text", "term": "water"}
            },
            "collection_kind": "count_and_top_docs",
            "hits": 5,
        }
    )
    assert resp.total_hits >= 0
