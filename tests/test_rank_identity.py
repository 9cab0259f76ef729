"""Rank-identity gate: Spark engine vs pure-Python oracle (SURVEY §5).

Builds a real index (build pipeline → parquet) over deterministic synthetic
webtext, then runs the reference query-shape set (BASELINE.md: term, phrase,
boolean must/should/must_not, range, query_string, all, boost, fuzzy_term,
regex — mirroring /root/reference/examples/*_query.json) on BOTH engines and
asserts identical top-k doc ids AND BM25 scores (rel tol 1e-9; k1=1.2,
b=0.75; ties broken by doc_id asc): the Spark plan (`scores()`), and
`search()` at each execution site, on a clean and on a tombstoned snapshot;
on the driver site a cold read cache and a warm one answer bit for bit
alike.
"""

import math

import numpy as np
import pytest

from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.oracle import OracleIndex
from bayard_spark.query import SearchEngine
from bayard_spark.schema import webtext_index_meta
from bayard_spark.sources.webtext import synthesize_batch, webtext_df

N_DOCS = 600
K = 10

QUERIES = [
    ("term", {"kind": "term", "options": {"field": "text", "term": "the"}}),
    ("term_rare", {"kind": "term", "options": {"field": "text", "term": "father"}}),
    ("term_missing", {"kind": "term", "options": {"field": "text", "term": "zzzz"}}),
    (
        "phrase",
        {"kind": "phrase",
         "options": {"field": "text", "phrase_terms": ["of", "the"], "slop": 0}},
    ),
    (
        "phrase_slop",
        {"kind": "phrase",
         "options": {"field": "text", "phrase_terms": ["the", "and"], "slop": 2}},
    ),
    (
        "bool_must",
        {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "must",
             "query": {"kind": "term", "options": {"field": "text", "term": "water"}}},
            {"occurrence": "must",
             "query": {"kind": "term", "options": {"field": "text", "term": "earth"}}},
        ]}},
    ),
    (
        "bool_should",
        {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "should",
             "query": {"kind": "term", "options": {"field": "text", "term": "mother"}}},
            {"occurrence": "should",
             "query": {"kind": "term", "options": {"field": "text", "term": "father"}}},
        ]}},
    ),
    (
        "bool_must_not",
        {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "must",
             "query": {"kind": "term", "options": {"field": "text", "term": "world"}}},
            {"occurrence": "must_not",
             "query": {"kind": "term", "options": {"field": "text", "term": "the"}}},
        ]}},
    ),
    (
        "bool_nested",
        {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "should",
             "query": {"kind": "boolean", "options": {"subqueries": [
                 {"occurrence": "must",
                  "query": {"kind": "term",
                            "options": {"field": "text", "term": "light"}}},
                 {"occurrence": "must_not",
                  "query": {"kind": "term",
                            "options": {"field": "text", "term": "dark"}}},
             ]}}},
            {"occurrence": "should",
             "query": {"kind": "term", "options": {"field": "text", "term": "house"}}},
        ]}},
    ),
    ("all", {"kind": "all"}),
    (
        "boost",
        {"kind": "boost", "options": {
            "query": {"kind": "term", "options": {"field": "text", "term": "year"}},
            "boost": 2.0}},
    ),
    (
        "range",
        {"kind": "range", "options": {"field": "lang", "start": "de", "end": "es"}},
    ),
    (
        "fuzzy",
        {"kind": "fuzzy_term", "options": {
            "field": "text", "term": "wird", "distance": 1,
            "transposition_cost_one": True, "prefix": False}},
    ),
    (
        "regex",
        {"kind": "regex", "options": {"field": "text", "regex": "wa.+"}},
    ),
    (
        "query_string",
        {"kind": "query_string", "options": {
            "query": 'water "of the" -mother', "default_search_fields": ["text"]}},
    ),
    (
        "query_string_and",
        {"kind": "query_string", "options": {
            "query": "water AND earth", "default_search_fields": ["text"]}},
    ),
    (
        "query_string_parens",
        {"kind": "query_string", "options": {
            "query": "(water OR earth) AND light",
            "default_search_fields": ["text"]}},
    ),
    (
        "query_string_not",
        {"kind": "query_string", "options": {
            "query": "water NOT (mother OR father)",
            "default_search_fields": ["text"]}},
    ),
    (
        "query_string_boost",
        {"kind": "query_string", "options": {
            "query": 'water^2 "of the"^0.5 earth',
            "default_search_fields": ["text"]}},
    ),
    (
        "boost_of_boolean",
        {"kind": "boost", "options": {"boost": 0.5, "query": {
            "kind": "boolean", "options": {"subqueries": [
                {"occurrence": "must", "query": {
                    "kind": "term",
                    "options": {"field": "text", "term": "light"}}},
                {"occurrence": "should", "query": {
                    "kind": "term",
                    "options": {"field": "text", "term": "kind"}}},
            ]}}}},
    ),
    (
        "bool_of_phrase_and_fuzzy",
        {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "should", "query": {
                "kind": "phrase", "options": {
                    "field": "text",
                    "phrase_terms": ["in", "the"], "slop": 0}}},
            {"occurrence": "should", "query": {
                "kind": "fuzzy_term", "options": {
                    "field": "text", "term": "watre", "distance": 2,
                    "transposition_cost_one": True}}},
        ]}},
    ),
    (
        "must_not_only",
        {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "must_not", "query": {
                "kind": "term",
                "options": {"field": "text", "term": "the"}}},
        ]}},
    ),
    (
        "raw_field_term",
        {"kind": "term", "options": {"field": "lang", "term": "de"}},
    ),
    (
        "regex_all_suffix",
        {"kind": "regex", "options": {"field": "text", "regex": ".*ther"}},
    ),
    (
        "phrase_three_terms",
        {"kind": "phrase", "options": {
            "field": "text", "phrase_terms": ["the", "of", "the"],
            "slop": 1}},
    ),
    (
        "deep_nesting",
        {"kind": "boost", "options": {"boost": 3.0, "query": {
            "kind": "boolean", "options": {"subqueries": [
                {"occurrence": "must", "query": {
                    "kind": "boolean", "options": {"subqueries": [
                        {"occurrence": "should", "query": {
                            "kind": "term", "options": {
                                "field": "text", "term": "mother"}}},
                        {"occurrence": "should", "query": {
                            "kind": "term", "options": {
                                "field": "text", "term": "father"}}},
                    ]}}},
                {"occurrence": "must_not", "query": {
                    "kind": "range", "options": {
                        "field": "lang", "start": "zh", "end": "zz"}}},
            ]}}}},
    ),
]


SITES = ("driver", "spark")


def assert_cold_equals_warm(engine, on_site, query):
    """On the driver site, the answer from an empty read cache and its
    warm repeat are equal bit for bit."""
    req = {"query": query, "collection_kind": "count_and_top_docs", "hits": K}
    with on_site(engine, "driver"):
        engine._read_cache.clear()
        cold = engine.search(req)
        assert engine.search(req) == cold


def assert_search_matches(engine, oracle, name, query, expected, n_live):
    """Both collectors of search() against the oracle's expected top-K:
    top_docs (block-max pruning allowed on the Spark site) and
    count_and_top_docs (total_hits over the live matches)."""
    for kind in ("top_docs", "count_and_top_docs"):
        resp = engine.search(
            {"query": query, "collection_kind": kind, "hits": K}
        )
        assert [d["id"] for d in resp.documents] == [
            oracle.docs[d]["url"] for d, _ in expected
        ], f"{name} {kind}: ranking diverges"
        for d, (_, es) in zip(resp.documents, expected):
            assert math.isclose(d["score"], es, rel_tol=1e-9, abs_tol=1e-12)
        if kind == "count_and_top_docs":
            assert resp.total_hits == n_live, name


@pytest.mark.parametrize("name,query", QUERIES, ids=[q[0] for q in QUERIES])
def test_rank_identity(built, on_site, name, query):
    engine, oracle = built
    expected = oracle.top_k(query, k=K)
    assert_cold_equals_warm(engine, on_site, query)
    for site in SITES:
        with on_site(engine, site):
            assert_search_matches(
                engine, oracle, f"{name} on the {site} site", query,
                expected, len(oracle.run(query)),
            )
    got_rows = (
        engine.scores(query, topk_hint=K)
        .orderBy("score", ascending=False)
        .collect()
    )
    got_sorted = sorted(
        [(r["doc_id"], r["score"]) for r in got_rows],
        key=lambda kv: (-kv[1], kv[0]),
    )[:K]
    assert [d for d, _ in got_sorted] == [d for d, _ in expected], (
        f"{name}: doc ids diverge\n spark={got_sorted}\n oracle={expected}"
    )
    for (gd, gs), (ed, es) in zip(got_sorted, expected):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12), (
            f"{name}: score mismatch doc {gd}: spark={gs!r} oracle={es!r}"
        )


def test_built_index_is_salted(built):
    # hot terms come from the build's 5% doc sample: the fixture's low
    # hot_df_threshold and salt_span must still split the head terms into
    # salts, so every query above also runs over salted postings
    engine, _ = built
    salted = engine.postings.filter("salt > 0").select("term").distinct()
    assert "the" in {r["term"] for r in salted.collect()}


def test_count_matches_oracle(built):
    engine, oracle = built
    q = {"kind": "term", "options": {"field": "text", "term": "the"}}
    assert engine.scores(q).count() == len(oracle.run(q))


def test_search_response_shape(built):
    engine, _ = built
    resp = engine.search(
        {
            "query": {"kind": "term", "options": {"field": "text", "term": "the"}},
            "collection_kind": "count_and_top_docs",
            "fields": ["lang"],
            "offset": 0,
            "hits": 5,
        }
    )
    assert resp.total_hits > 0
    assert len(resp.documents) == 5
    d0 = resp.documents[0]
    assert set(d0) == {"id", "score", "timestamp", "sort_value", "fields"}
    assert d0["id"].startswith("https://")
    assert d0["fields"]["lang"]


def test_search_offset_pagination(built):
    engine, oracle = built
    q = {"kind": "term", "options": {"field": "text", "term": "water"}}
    full = engine.search({"query": q, "hits": 10, "offset": 0})
    page2 = engine.search({"query": q, "hits": 5, "offset": 5})
    assert [d["id"] for d in page2.documents] == [
        d["id"] for d in full.documents[5:]
    ]


def test_sort_by_fast_field(built):
    engine, _ = built
    resp = engine.search(
        {
            "query": {"kind": "all"},
            "sort": {"field": "warc_ts", "order": "desc"},
            "hits": 5,
        }
    )
    ts = [d["sort_value"] for d in resp.documents]
    assert ts == sorted(ts, reverse=True)


# ------------------------------------------------- snapshot with tombstones

TS_DOCS = 1200  # "the" then spans more than 8 blocks, where pruning opens


@pytest.fixture(scope="module")
def tombstoned(spark):
    """A built index with deletes committed on top: the top-20 docs of the
    hot term "the" and the top-3 of every query in QUERIES. BM25 stats and
    df keep counting deleted docs until a merge, so the oracle holds every
    doc and the expected ranking drops the deleted ones."""
    import shutil
    import tempfile

    from bayard_spark.build.segments import SegmentWriter

    root = tempfile.mkdtemp(prefix="ts_rank_idx_")
    meta = webtext_index_meta(
        num_buckets=8, salt_span=100, hot_df_threshold=250
    )
    builder = IndexBuilder(spark, meta, root)
    builder.build(webtext_df(spark, TS_DOCS, partitions=8))
    ids = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(builder.paths.docs)
        .select("url", "doc_id").collect()
    }
    probe = SearchEngine(spark, root)
    oracle = OracleIndex(
        analyzers=probe.analyzers,
        field_analyzers={"url": "raw", "text": "default", "lang": "raw"},
    )
    for row in synthesize_batch(np.arange(TS_DOCS)).itertuples(index=False):
        oracle.add(ids[row.url], {"url": row.url, "text": row.text,
                                  "lang": row.lang})
    hot = {"kind": "term", "options": {"field": "text", "term": "the"}}
    dead = {d for d, _ in oracle.top_k(hot, k=20)}
    for _, q in QUERIES:
        dead |= {d for d, _ in oracle.top_k(q, k=3)}
    writer = SegmentWriter(spark, builder)
    writer.delete_documents(sorted(oracle.docs[d]["url"] for d in dead))
    writer.commit()
    engine = SearchEngine(spark, root)
    assert engine._n_tombstones == len(dead)
    assert engine._df_of("text", "the") > 8 * meta.block_size
    yield engine, oracle, dead
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("name,query", QUERIES, ids=[q[0] for q in QUERIES])
def test_rank_identity_with_tombstones(tombstoned, on_site, name, query):
    """On each site; on the Spark site block-max pruning must stay off
    while deleted docs sit in full blocks."""
    engine, oracle, dead = tombstoned
    live = {d: s for d, s in oracle.run(query).items() if d not in dead}
    expected = sorted(live.items(), key=lambda kv: (-kv[1], kv[0]))[:K]
    assert_cold_equals_warm(engine, on_site, query)
    for site in SITES:
        with on_site(engine, site):
            assert_search_matches(
                engine, oracle, f"{name} on the {site} site", query,
                expected, len(live),
            )
