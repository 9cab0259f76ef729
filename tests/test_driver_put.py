"""Update-sized puts and deletes on the driver.

- Spark jobs on the webtext meta: a 50-doc put runs 2 (the batch comes
  back, then the analyzer pass with the term bucket), a delete 0 and a
  commit 0. A put over BULK_ID_THRESHOLD rows or BULK_BYTES_THRESHOLD
  Arrow bytes stages through Spark, with the same visible result. Either
  path writes one tombstone file per put.
- The build's stats stage reads Σ tf back from the base blocks in at
  most 2 Spark jobs, and a merge of one ingest round, which reads its
  stats back the same way, in at most MERGE_JOBS.
- A driver-written segment holds exactly the blocks the encode step
  makes from a Spark read of its docs.
- Every stored type read back from a driver-written docs file equals a
  Spark collect of the rows put, through both `_fetch_stored` and
  `visible_docs`.
- A null or empty url, and a meta whose `url` is not an indexed raw text
  field, are rejected.
"""

from __future__ import annotations

import datetime
import glob
import itertools
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

from bayard_spark.build.indexer import BLOCK_SCHEMA, IndexBuilder, encode_blocks
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
        assert (put_jobs, delete_jobs, commit_jobs) == (2, 0, 0)
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


def test_driver_segment_equals_encode_step(spark, webtext_root):
    root, builder, base_urls = webtext_root
    _, df = ingest_batch(spark, base_urls)
    seg = SegmentWriter(spark, builder).put_documents(df)
    io = CommitLog(root).io
    got = pq.read_table(io.path("postings", f"wave={seg}"))
    assert got.num_rows > 0
    assert got.to_pylist() == got.sort_by(
        [(c, "ascending") for c in SEGMENT_SORT]
    ).to_pylist()
    docs = spark.read.parquet(io.path("segments", seg, "docs"))
    assert docs.count() == 50
    want = encode_blocks(
        builder.posting_rows(docs)
        .withColumn("bucket", builder.term_bucket())
        .withColumn("salt", F.lit(0)),
        builder.meta.block_size,
    )
    cols = [c.split(" ")[0] for c in BLOCK_SCHEMA.split(", ")]

    def key(row):
        return tuple(row[c] for c in SEGMENT_SORT)

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
        w.put_documents(put)
        w.commit()
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
