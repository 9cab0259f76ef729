"""Multi-field index parity on a reference-example-shaped corpus.

Mirrors the SHAPE of /root/reference/examples/ (13 programming-language docs,
meta.json schema: name/description text+position, popularity u64 fast,
category facet, publish_date date) and the example query set
(examples/*_query.json shapes), with our own synthetic text. Asserts
rank-identity vs the oracle plus planted-signal expectations.
"""

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.oracle import OracleIndex
from bayard_spark.query import SearchEngine
from bayard_spark.schema import FieldDef, IndexMeta

LANGS = [
    # (name, description, popularity, category)
    ("Rust", "a systems programming language focused on safety and speed",
     1331, "/language/rust"),
    ("Go", "a compiled programming language designed for simplicity",
     9500, "/language/go"),
    ("Python", "a dynamic programming language for scripting and data",
     53000, "/language/python"),
    ("JavaScript", "the scripting language of the web browsers everywhere",
     61000, "/language/javascript"),
    ("TypeScript", "a typed superset of javascript that compiles to javascript",
     30000, "/language/typescript"),
    ("C", "a low level systems language with manual memory management",
     6630, "/language/c"),
    ("Java", "an object oriented language running on a virtual machine",
     53338, "/language/java"),
    ("Haskell", "a purely functional multi paradigm research language",
     2200, "/language/haskell"),
    ("OCaml", "a functional multi paradigm language with strong typing",
     1100, "/language/ocaml"),
    ("Scala", "a multi paradigm language mixing functional and object styles",
     8000, "/language/scala"),
    ("Ruby", "a dynamic scripting language optimized for happiness",
     17000, "/language/ruby"),
    ("Erlang", "a concurrent functional language for telecom systems",
     900, "/language/erlang"),
    ("Zig", "a systems programming language aiming to replace c",
     700, "/language/zig"),
]


@pytest.fixture(scope="module")
def wiki13(spark):
    root = tempfile.mkdtemp(prefix="wiki13_")
    meta = IndexMeta(
        name="wiki13",
        fields=[
            FieldDef(name="url", type="text", analyzer="raw", record="basic"),
            FieldDef(name="name", type="text", analyzer="default",
                     record="position"),
            FieldDef(name="description", type="text", analyzer="default",
                     record="position"),
            FieldDef(name="popularity", type="u64", fast=True),
            FieldDef(name="category", type="text", analyzer="facet",
                     record="basic"),
            FieldDef(name="warc_ts", type="date", fast=True),
        ],
        analyzers={"facet": {"tokenizer": {"name": "facet"}}},
        num_buckets=4,
    )
    rows = [
        (f"https://wiki.example/{n.lower()}", f"2021-0{1 + i % 9}-01 00:00:00",
         n, d, p, c)
        for i, (n, d, p, c) in enumerate(LANGS)
    ]
    src = spark.createDataFrame(
        rows,
        "url string, warc_ts string, name string, description string, "
        "popularity long, category string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    builder = IndexBuilder(spark, meta, root)
    builder.build(src)
    engine = SearchEngine(spark, root)

    oracle = OracleIndex(
        analyzers=engine.analyzers,
        field_analyzers={"url": "raw", "name": "default",
                         "description": "default", "category": "facet"},
    )
    ids = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(builder.paths.docs).collect()
    }
    for i, (n, d, p, c) in enumerate(LANGS):
        url = f"https://wiki.example/{n.lower()}"
        oracle.add(ids[url], {"url": url, "name": n, "description": d,
                              "popularity": p, "category": c})
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


class TestWiki13:
    def test_term_query_shape(self, wiki13):
        # examples/term_query.json: term rust on description
        engine, oracle, ids = wiki13
        q = {"kind": "term",
             "options": {"field": "description", "term": "rust"}}
        assert_rank_identity(engine, oracle, q)

    def test_phrase_multi_paradigm(self, wiki13):
        # examples/phrase_query.json: ["multi", "paradigm"]
        engine, oracle, ids = wiki13
        q = {"kind": "phrase", "options": {
            "field": "description",
            "phrase_terms": ["multi", "paradigm"], "slop": 0}}
        assert_rank_identity(engine, oracle, q)
        got = {r["doc_id"] for r in engine.scores(q).collect()}
        expected_urls = {"https://wiki.example/haskell",
                         "https://wiki.example/ocaml",
                         "https://wiki.example/scala"}
        assert got == {ids[u] for u in expected_urls}

    def test_boolean_nested_like_example(self, wiki13):
        # examples/boolean_query.json shape: should(must qs, must_not qs)...
        engine, oracle, ids = wiki13
        q = {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "should", "query": {"kind": "boolean", "options": {
                "subqueries": [
                    {"occurrence": "must", "query": {
                        "kind": "query_string", "options": {
                            "query": '"programming language"',
                            "default_search_fields": ["name", "description"]}}},
                    {"occurrence": "must_not", "query": {
                        "kind": "query_string", "options": {
                            "query": "javascript",
                            "default_search_fields": ["name", "description"]}}},
                ]}}},
            {"occurrence": "should", "query": {"kind": "boolean", "options": {
                "subqueries": [
                    {"occurrence": "must", "query": {
                        "kind": "query_string", "options": {
                            "query": "javascript",
                            "default_search_fields": ["name", "description"]}}},
                    {"occurrence": "must_not", "query": {
                        "kind": "query_string", "options": {
                            "query": "typescript",
                            "default_search_fields": ["name", "description"]}}},
                ]}}},
        ]}}
        assert_rank_identity(engine, oracle, q)

    def test_range_popularity(self, wiki13):
        # examples/range_query.json: popularity in [10000, 20000)
        engine, oracle, ids = wiki13
        q = {"kind": "range", "options": {
            "field": "popularity", "start": 10000, "end": 20000}}
        assert_rank_identity(engine, oracle, q)
        got = {r["doc_id"] for r in engine.scores(q).collect()}
        assert got == {ids["https://wiki.example/ruby"]}  # 17000

    def test_boost_doubles_scores(self, wiki13):
        engine, oracle, ids = wiki13
        base = {"kind": "term",
                "options": {"field": "description", "term": "functional"}}
        boosted = {"kind": "boost", "options": {"query": base, "boost": 2.0}}
        b = {r["doc_id"]: r["score"] for r in engine.scores(base).collect()}
        bb = {r["doc_id"]: r["score"] for r in engine.scores(boosted).collect()}
        assert set(b) == set(bb)
        for d in b:
            assert bb[d] == pytest.approx(2.0 * b[d], rel=1e-12)

    def test_regex_and_fuzzy(self, wiki13):
        engine, oracle, ids = wiki13
        assert_rank_identity(engine, oracle, {
            "kind": "regex",
            "options": {"field": "description", "regex": "ru.+"}})
        assert_rank_identity(engine, oracle, {
            "kind": "fuzzy_term",
            "options": {"field": "description", "term": "rsut",
                        "distance": 2, "transposition_cost_one": True}})

    def test_facet_path_postings(self, wiki13):
        # facet tokenizer emits ancestor paths: '/language' matches all docs
        engine, oracle, ids = wiki13
        q_all = {"kind": "term",
                 "options": {"field": "category", "term": "/language"}}
        assert engine.scores(q_all).count() == 13
        q_one = {"kind": "term",
                 "options": {"field": "category", "term": "/language/rust"}}
        got = [r["doc_id"] for r in engine.scores(q_one).collect()]
        assert got == [ids["https://wiki.example/rust"]]

    def test_sort_by_popularity_like_example(self, wiki13):
        # every example query sorts by popularity — check both orders
        engine, oracle, ids = wiki13
        resp = engine.search({
            "query": {"kind": "all"},
            "sort": {"field": "popularity", "order": "desc"},
            "fields": ["name", "popularity"],
            "hits": 3,
        })
        names = [d["fields"]["name"] for d in resp.documents]
        assert names == ["JavaScript", "Java", "Python"]
        resp_asc = engine.search({
            "query": {"kind": "all"},
            "sort": {"field": "popularity", "order": "asc"},
            "hits": 3,
        })
        assert [d["sort_value"] for d in resp_asc.documents] == [700, 900, 1100]

    def test_query_string_multifield(self, wiki13):
        engine, oracle, ids = wiki13
        q = {"kind": "query_string", "options": {
            "query": "rust", "default_search_fields": ["name", "description"]}}
        assert_rank_identity(engine, oracle, q)
        got = {r["doc_id"] for r in engine.scores(q).collect()}
        assert ids["https://wiki.example/rust"] in got
