"""Update-sized puts and deletes on the driver.

- Spark jobs on the webtext meta: a 50-doc put runs 1 (the batch comes
  back; the analyzer pass and the term bucket run on the driver), a
  delete 0 and a commit 0. A put over BULK_ID_THRESHOLD rows or
  BULK_BYTES_THRESHOLD Arrow bytes stages through Spark, with the same
  visible result. Either path writes one tombstone file per put.
- The build's stats stage reads Σ tf back from the base blocks in at
  most 2 Spark jobs, and a merge of one ingest round, which reads its
  stats back the same way, in at most MERGE_JOBS.
- A driver-written segment, analyzed in several row slices, holds
  exactly the blocks the encode step makes from a Spark read of its docs.
- The build's posting_rows and the driver put reach one analyzer,
  `TextAnalysis.analyze_batch` (an AST check).
- Every stored type read back from a driver-written docs file equals a
  Spark collect of the rows put, through both `_fetch_stored` and
  `visible_docs`; that meta's json_object and bytes fields keep their
  Spark rows, so its put runs 5 jobs.
- A null or empty url, and a meta whose `url` is not an indexed raw text
  field, are rejected.
"""

from __future__ import annotations

import ast
import datetime
import glob
import itertools
import os
import shutil
import tempfile
from collections import Counter
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DecimalType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from bayard_spark.build.indexer import (
    BLOCK_SCHEMA,
    IndexBuilder,
    TextAnalysis,
    encode_blocks,
)
from bayard_spark.build.segments import (
    SEGMENT_SORT,
    CommitLog,
    SegmentWriter,
    merge_segments,
    visible_docs,
)
from bayard_spark.query import SearchEngine
from bayard_spark.schema import FieldDef, IndexMeta, IndexPaths, webtext_index_meta
from bayard_spark.sources.webtext import WEBTEXT_SCHEMA, synthesize_batch

_groups = itertools.count()
BASE_DOCS = 200


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    gid = f"driver-put-{next(_groups)}"
    sc.setJobGroup(gid, "test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.fixture()
def webtext_root(spark):
    """A webtext index over BASE_DOCS synthesized pages; yields the root,
    its builder and the base urls."""
    root = tempfile.mkdtemp(prefix="driver_put_")
    pdf = synthesize_batch(np.arange(BASE_DOCS), 1)
    builder = IndexBuilder(spark, webtext_index_meta(num_buckets=4), root)
    builder.build(spark.createDataFrame(pdf, WEBTEXT_SCHEMA), resume=False)
    yield root, builder, list(pdf.url)
    shutil.rmtree(root, ignore_errors=True)


def ingest_batch(spark, base_urls):
    """The perfbench ingest shape: 40 new pages and 10 re-puts."""
    pdf = synthesize_batch(np.arange(1000, 1050), 1)
    pdf.loc[40:, "url"] = base_urls[:10]
    return pdf, spark.createDataFrame(pdf, WEBTEXT_SCHEMA)


@pytest.mark.parametrize("path", ["driver", "spark", "spark_bytes"])
def test_put_delete_commit_jobs(spark, webtext_root, monkeypatch, path):
    root, builder, base_urls = webtext_root
    if path == "spark":
        monkeypatch.setattr(SegmentWriter, "BULK_ID_THRESHOLD", 10)
    if path == "spark_bytes":
        monkeypatch.setattr(SegmentWriter, "BULK_BYTES_THRESHOLD", 10_000)
    pdf, df = ingest_batch(spark, base_urls)
    doomed = base_urls[10:14]
    w = SegmentWriter(spark, builder)
    seg, put_jobs = spark_jobs(spark, lambda: w.put_documents(df))
    _, delete_jobs = spark_jobs(spark, lambda: w.delete_documents(doomed))
    _, commit_jobs = spark_jobs(spark, w.commit)
    if path == "driver":
        assert (put_jobs, delete_jobs, commit_jobs) == (1, 0, 0)
    else:
        assert put_jobs > 2 and (delete_jobs, commit_jobs) == (0, 0)
    # either path writes the put's tombstones as one file
    assert len(glob.glob(f"{root}/tombstones/{seg}.parquet/*.parquet")) == 1
    counts = Counter(
        r["url"] for r in visible_docs(spark, IndexPaths(root)).collect()
    )
    assert sum(counts.values()) == BASE_DOCS + 40 - len(doomed)
    assert all(counts[u] == 1 for u in pdf.url)
    assert not any(u in counts for u in doomed)
    assert CommitLog(root).read()["next_doc_id"] == BASE_DOCS + 50


# A merge of one ingest round on the webtext meta: the encode exchange and
# base-wave write, the docs rewrite and the 2-job stats read-back.
MERGE_JOBS = 7


def test_stats_stage_and_merge_jobs(spark, webtext_root):
    root, builder, base_urls = webtext_root
    docs = spark.read.parquet(builder.paths.docs)
    _, stats_jobs = spark_jobs(
        spark, lambda: builder.write_norms_stats_direct(docs, None)
    )
    _, df = ingest_batch(spark, base_urls)
    w = SegmentWriter(spark, builder)
    w.put_documents(df)
    w.delete_documents(base_urls[10:14])
    w.commit()
    _, merge_jobs = spark_jobs(spark, lambda: merge_segments(spark, builder))
    assert stats_jobs <= 2
    assert merge_jobs <= MERGE_JOBS
    assert set(CommitLog(root).read()["stats"]) == {"url", "text", "lang"}


def test_driver_segment_equals_encode_step(spark, webtext_root, monkeypatch):
    """The ingest batch, and a 300-doc batch whose head terms pass the
    128-doc block size, each analyzed in 7 row slices on the driver: head
    terms' rows come from several slices, and the blocks still equal the
    Spark encode step's over the segment's docs, byte for byte."""
    root, builder, base_urls = webtext_root
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(7)))
    terms_per_slice = []
    analyze_batch = TextAnalysis.analyze_batch

    def recording(self, rb):
        out = list(analyze_batch(self, rb))
        terms_per_slice.append({
            t for b in out if b.column("field")[0].as_py() == "text"
            for t in b.column("term").to_pylist()
        })
        return iter(out)

    monkeypatch.setattr(TextAnalysis, "analyze_batch", recording)
    big = spark.createDataFrame(
        synthesize_batch(np.arange(2000, 2300), 1), WEBTEXT_SCHEMA
    )
    io = CommitLog(root).io
    cols = [c.split(" ")[0] for c in BLOCK_SCHEMA.split(", ")]

    def key(row):
        return tuple(row[c] for c in SEGMENT_SORT)

    for df, n_docs in ((ingest_batch(spark, base_urls)[1], 50), (big, 300)):
        terms_per_slice.clear()
        seg = SegmentWriter(spark, builder).put_documents(df)
        assert len(terms_per_slice) == 7
        spanning = set.intersection(*terms_per_slice)
        assert spanning
        got = pq.read_table(io.path("postings", f"wave={seg}"))
        assert got.num_rows > 0
        assert got.to_pylist() == got.sort_by(
            [(c, "ascending") for c in SEGMENT_SORT]
        ).to_pylist()
        if n_docs > builder.meta.block_size:
            n_blocks = Counter(
                t for f, t in zip(got["field"].to_pylist(),
                                  got["term"].to_pylist()) if f == "text"
            )
            assert any(n_blocks[t] > 1 for t in spanning)
        docs = spark.read.parquet(io.path("segments", seg, "docs"))
        assert docs.count() == n_docs
        want = encode_blocks(
            builder.posting_rows(docs)
            .withColumn("bucket", builder.term_bucket())
            .withColumn("salt", F.lit(0)),
            builder.meta.block_size,
        )
        want_rows = sorted(
            ({c: bytes(v) if isinstance(v, bytearray) else v
              for c, v in r.asDict().items()} for r in want.collect()),
            key=key,
        )
        assert [{c: r[c] for c in cols} for r in got.to_pylist()] == want_rows


TYPED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("seen", TimestampNTZType()),
    StructField("title", StringType()),
    StructField("attrs", StringType()),
    StructField("payload", BinaryType()),
    StructField("views", DecimalType(20, 0)),
])


def typed_rows(urls, word):
    return [
        (u, datetime.datetime(2024, 3, i + 1, 12, 30, 15, 250),
         datetime.datetime(2023, 7, 4, i, 5, 6), f"{word} page {i}",
         f'{{"lang": "en", "meta": {{"stars": {i}}}}}',
         None if i == 1 else bytes([i, 255, 0]), Decimal(2**63 + i))
        for i, u in enumerate(urls)
    ]


def test_stored_types_round_trip(spark):
    """timestamp, timestamp_ntz, binary, u64 decimal and json string
    columns of a driver-written docs file read back as Spark collects
    them."""
    meta = IndexMeta(
        name="typed",
        fields=[
            FieldDef(name="url", type="text", analyzer="raw", record="basic"),
            FieldDef(name="title", type="text", analyzer="default"),
            FieldDef(name="attrs", type="json_object", analyzer="default",
                     record="freq"),
            FieldDef(name="payload", type="bytes", record="basic"),
            FieldDef(name="views", type="u64", fast=True),
            FieldDef(name="warc_ts", type="date", fast=True),
        ],
        num_buckets=4,
    )
    root = tempfile.mkdtemp(prefix="typed_put_")
    try:
        urls = [f"https://t.example/{i}" for i in range(3)]
        builder = IndexBuilder(spark, meta, root)
        builder.build(
            spark.createDataFrame(typed_rows(urls[:2], "base"), TYPED_SCHEMA),
            resume=False,
        )
        put = spark.createDataFrame(typed_rows(urls, "put"), TYPED_SCHEMA)
        w = SegmentWriter(spark, builder)
        _, put_jobs = spark_jobs(spark, lambda: w.put_documents(put))
        w.commit()
        # the batch comes back (1 job), then one action builds the json
        # and bytes fields' posting rows: with AQE every shuffle map stage
        # of the json rows' aggregates and join runs as a job of its own,
        # so that action is 4 jobs, as many as before the text rows and
        # the buckets moved to the driver.
        assert put_jobs == 5
        want = {r["url"]: r.asDict() for r in put.collect()}
        got = {
            r["url"]: r.asDict()
            for r in visible_docs(spark, IndexPaths(root)).collect()
        }
        ids = {u: got[u]["doc_id"] for u in urls}
        assert {u: {c: got[u][c] for c in TYPED_SCHEMA.names} for u in got} == want
        e = SearchEngine(spark, root)
        fetched = e._fetch_stored(list(ids.values()), TYPED_SCHEMA.names)
        for u, doc_id in ids.items():
            row = dict(fetched[doc_id])
            assert row.pop("doc_id") == doc_id
            assert row == want[u]
        assert e.search({
            "query": {"kind": "term", "options": {"field": "title", "term": "put"}},
            "limit": 10,
        }).total_hits == 3
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("path", ["driver", "spark"])
@pytest.mark.parametrize("url", [None, ""])
def test_null_or_empty_url_rejected(spark, webtext_root, monkeypatch, path, url):
    root, builder, _ = webtext_root
    if path == "spark":
        monkeypatch.setattr(SegmentWriter, "BULK_ID_THRESHOLD", 1)
    batch = spark.createDataFrame(
        [(url, "a page"), ("https://ok.example/", "a page")],
        "url string, text string",
    ).withColumn("warc_ts", F.current_timestamp())
    w = SegmentWriter(spark, builder)
    with pytest.raises(ValueError, match="null or empty"):
        w.put_documents(batch)
    with pytest.raises(ValueError, match="null or empty"):
        w.delete_documents([url])
    assert w._staged_segments == w._staged_tombstones == []


@pytest.mark.parametrize("url_field", [
    None,
    FieldDef(name="url", type="text", analyzer="default", record="basic"),
    FieldDef(name="url", type="text", analyzer="raw", indexed=False),
    FieldDef(name="url", type="bytes", record="basic"),
])
def test_url_must_be_an_indexed_raw_text_field(spark, url_field):
    fields = [FieldDef(name="text", type="text")]
    meta = IndexMeta(name="nourl", fields=fields + [url_field] * bool(url_field))
    root = tempfile.mkdtemp(prefix="bad_url_meta_")
    try:
        with pytest.raises(ValueError, match="raw analyzer"):
            SegmentWriter(spark, IndexBuilder(spark, meta, root))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _functions(path: str) -> dict[str, ast.FunctionDef]:
    """Every function and method of a module, by name."""
    tree = ast.parse(open(path).read())
    return {n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}


def _called(fn: ast.FunctionDef) -> set[str]:
    """The names a function calls, as `f(...)` or `x.f(...)`."""
    return {
        c.func.attr if isinstance(c.func, ast.Attribute) else c.func.id
        for c in ast.walk(fn)
        if isinstance(c, ast.Call)
        and isinstance(c.func, (ast.Attribute, ast.Name))
    }


def test_build_and_driver_put_share_one_analyzer():
    """The build's posting_rows and the driver put reach the one lifted
    `TextAnalysis.analyze_batch`; no other function tokenizes text
    fields, and the driver put runs neither posting_rows nor the JVM term
    bucket."""
    import bayard_spark
    import bayard_spark.build.indexer as indexer
    import bayard_spark.build.segments as segments

    pkg = os.path.dirname(bayard_spark.__file__)
    defs = [
        (path, n) for path in glob.glob(f"{pkg}/**/*.py", recursive=True)
        for n in _functions(path) if n == "analyze_batch"
    ]
    assert defs == [(indexer.__file__, "analyze_batch")]
    build, put = _functions(indexer.__file__), _functions(segments.__file__)
    assert [n for n, f in build.items() if "tokenize_ints" in _called(f)] == [
        "analyze_batch"
    ]

    def reaches(fn: ast.FunctionDef, seen: set[str]) -> set[str]:
        """Names called from fn and from the module functions it calls."""
        out = _called(fn)
        for name in out - seen:
            for mod in (build, put):
                if name in mod:
                    out |= reaches(mod[name], seen | out)
        return out

    assert {"text_analysis", "analyze_batch"} <= _called(build["posting_rows"])
    from_put = reaches(put["_put_on_driver"], set())
    assert {"text_analysis", "analyze_on_driver", "analyze_batch"} <= from_put
    assert not {"posting_rows", "mapInArrow", "term_bucket"} & (
        _called(put["_put_on_driver"]) | _called(put["analyze_on_driver"])
    )
