"""json_object / bytes / u64 field support (SURVEY §1.2; VERDICT round-1
missing items 3/4/6).

- json_object (docs/schema.md:125-157): dynamic leaf paths indexed as
  '<path>=<token>' terms with the field's analyzer; tf aggregates across
  leaves; BM25 rank-identical vs the oracle.
- bytes (docs/schema.md:106-122): one raw base64 term per value.
- u64 (docs/schema.md:22): Decimal(20,0) fast field; half-open range exact
  at the 2^63 boundary.
"""

import base64
import shutil
import tempfile
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.oracle import OracleIndex
from bayard_spark.query import SearchEngine
from bayard_spark.schema import FieldDef, IndexMeta

BOUND = 2**63  # u64 values straddle the i64 boundary

DOCS = [
    # (url, warc_ts, title, attrs_json, payload_bytes, views)
    ("https://j.example/a", "2024-01-01 00:00:00", "alpha rust page",
     '{"lang": "en", "meta": {"stars": 42, "active": true}}',
     b"\x01\x02", BOUND - 2),
    ("https://j.example/b", "2024-01-02 00:00:00", "beta go page",
     '{"lang": "de", "meta": {"stars": 7, "active": false}}',
     b"\x01\x02", BOUND - 1),
    ("https://j.example/c", "2024-01-03 00:00:00", "gamma rust go",
     '{"lang": "en", "meta": {"stars": 42}}',
     b"\xff\xfe", BOUND),
    ("https://j.example/d", "2024-01-04 00:00:00", "delta zig page",
     '{"lang": "fr"}', None, BOUND + 3),
    ("https://j.example/e", "2024-01-05 00:00:00", "epsilon rust",
     '{"lang": "en", "meta": {"stars": 8, "active": true}}',
     b"\x01\x02", BOUND + 7),
]


@pytest.fixture(scope="module")
def jidx(spark):
    root = tempfile.mkdtemp(prefix="jbu_idx_")
    meta = IndexMeta(
        name="jbu",
        fields=[
            FieldDef(name="url", type="text", analyzer="raw", record="basic"),
            FieldDef(name="title", type="text", analyzer="default",
                     record="position"),
            FieldDef(name="attrs", type="json_object", analyzer="default",
                     record="freq"),
            FieldDef(name="payload", type="bytes", record="basic"),
            FieldDef(name="views", type="u64", fast=True),
            FieldDef(name="warc_ts", type="date", fast=True),
        ],
        num_buckets=4,
    )
    schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("title", StringType()),
        StructField("attrs", StringType()),
        StructField("payload", BinaryType()),
        StructField("views", DecimalType(20, 0)),
    ])
    import datetime

    rows = [
        (u, datetime.datetime.fromisoformat(ts), t, a, p, Decimal(v))
        for u, ts, t, a, p, v in DOCS
    ]
    src = spark.createDataFrame(rows, schema)
    builder = IndexBuilder(spark, meta, root)
    builder.build(src, resume=False)
    engine = SearchEngine(spark, root)

    import json

    oracle = OracleIndex(
        analyzers=engine.analyzers,
        field_analyzers={"url": "raw", "title": "default",
                         "attrs": "default"},
    )
    ids = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(builder.paths.docs)
        .select("url", "doc_id").collect()
    }
    for u, ts, t, a, p, v in DOCS:
        oracle.add(ids[u], {
            "url": u, "title": t, "attrs": json.loads(a),
            "payload": p if p is not None else None, "views": int(v),
        } if p is not None else {
            "url": u, "title": t, "attrs": json.loads(a), "views": int(v),
        })
    yield engine, oracle, ids
    shutil.rmtree(root, ignore_errors=True)


def assert_rank_identity(engine, oracle, query, k=10):
    expected = oracle.top_k(query, k=k)
    got = sorted(
        [(r["doc_id"], r["score"]) for r in engine.scores(query).collect()],
        key=lambda kv: (-kv[1], kv[0]),
    )[:k]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-9)


class TestJsonObject:
    def test_top_level_leaf_term(self, jidx):
        engine, oracle, ids = jidx
        q = {"kind": "term", "options": {"field": "attrs", "term": "lang=en"}}
        assert_rank_identity(engine, oracle, q)
        got = {r["doc_id"] for r in engine.scores(q).collect()}
        assert got == {ids["https://j.example/a"],
                       ids["https://j.example/c"],
                       ids["https://j.example/e"]}

    def test_nested_leaf_number_and_bool(self, jidx):
        engine, oracle, ids = jidx
        q = {"kind": "term",
             "options": {"field": "attrs", "term": "meta.stars=42"}}
        assert_rank_identity(engine, oracle, q)
        got = {r["doc_id"] for r in engine.scores(q).collect()}
        assert got == {ids["https://j.example/a"], ids["https://j.example/c"]}
        qb = {"kind": "term",
              "options": {"field": "attrs", "term": "meta.active=true"}}
        assert_rank_identity(engine, oracle, qb)

    def test_boolean_over_json_and_text(self, jidx):
        engine, oracle, ids = jidx
        q = {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "must", "query": {
                "kind": "term",
                "options": {"field": "attrs", "term": "lang=en"}}},
            {"occurrence": "must", "query": {
                "kind": "term",
                "options": {"field": "title", "term": "rust"}}},
        ]}}
        assert_rank_identity(engine, oracle, q)

    def test_phrase_on_json_rejected(self, jidx):
        engine, _, _ = jidx
        with pytest.raises(ValueError, match="positions"):
            engine.scores({
                "kind": "phrase",
                "options": {"field": "attrs",
                            "phrase_terms": ["lang=en", "lang=de"]},
            })


class TestBytes:
    def test_bytes_term_query(self, jidx):
        engine, oracle, ids = jidx
        term = base64.b64encode(b"\x01\x02").decode()
        q = {"kind": "term", "options": {"field": "payload", "term": term}}
        assert_rank_identity(engine, oracle, q)
        got = {r["doc_id"] for r in engine.scores(q).collect()}
        assert got == {ids["https://j.example/a"],
                       ids["https://j.example/b"],
                       ids["https://j.example/e"]}


class TestU64:
    def test_range_at_i64_boundary(self, jidx):
        engine, oracle, ids = jidx
        q = {"kind": "range", "options": {
            "field": "views", "start": BOUND - 1, "end": BOUND + 4}}
        got = {r["doc_id"] for r in engine.scores(q).collect()}
        assert got == {ids["https://j.example/b"],
                       ids["https://j.example/c"],
                       ids["https://j.example/d"]}
        # oracle comparison uses python ints — same half-open window
        exp = set(oracle.q_range("views", BOUND - 1, BOUND + 4))
        assert got == exp

    def test_sort_by_u64_fast_field(self, jidx):
        engine, _, _ = jidx
        resp = engine.search({
            "query": {"kind": "all"},
            "sort": {"field": "views", "order": "desc"},
            "hits": 2,
        })
        vals = [int(d["sort_value"]) for d in resp.documents]
        assert vals == [BOUND + 7, BOUND + 3]


class TestSortByField:
    def test_index_time_presort(self, spark):
        """sort_by_field (create_index_api.md): doc ids follow the sort
        field's order within each bucket; the doc store is physically
        field-ordered, and query results stay rank-identical."""
        import tempfile as _tf

        from pyspark.sql import functions as F
        from bayard_spark.schema import webtext_index_meta
        from bayard_spark.sources.webtext import webtext_df

        root = _tf.mkdtemp(prefix="presort_")
        meta = webtext_index_meta(
            num_buckets=2, sort_by_field="n_chars"
        )
        meta.fields.append(
            __import__("bayard_spark.schema", fromlist=["FieldDef"]).FieldDef(
                name="n_chars", type="i64", fast=True
            )
        )
        src = webtext_df(spark, 200, partitions=4).drop("html").withColumn(
            "n_chars", F.length("text").cast("long")
        )
        builder = IndexBuilder(spark, meta, root)
        builder.build(src, resume=False)
        docs = spark.read.parquet(builder.paths.docs).select(
            "doc_id", "n_chars"
        ).orderBy("doc_id").collect()
        # within each contiguous bucket range, doc_id order == field order
        n = len(docs)
        assert n == 200
        halves = [docs[: n // 2], docs[n // 2 :]]  # 2 buckets, dense ranges
        # find actual bucket boundary: doc ids are dense 0..n-1; bucket 0 is
        # docs with ids < count(bucket0). n_chars must be non-decreasing
        # inside each bucket range.
        vals = [r["n_chars"] for r in docs]
        breaks = sum(
            1 for i in range(1, n) if vals[i] < vals[i - 1]
        )
        assert breaks <= 1  # at most one reset, at the bucket boundary

        engine = SearchEngine(spark, root)
        resp = engine.search({
            "query": {"kind": "all"},
            "sort": {"field": "n_chars", "order": "asc"},
            "hits": 5,
        })
        got = [d["sort_value"] for d in resp.documents]
        assert got == sorted(vals)[:5]
        shutil.rmtree(root, ignore_errors=True)
