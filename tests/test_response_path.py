"""How a search turns winners into a response.

- A request below the driver-site gate runs no Spark job, for every query
  kind, on a clean and on a tombstoned snapshot; one whose postings bound
  is at the gate or over it runs the Spark plan.
- On the Spark site (gate 0) a request is one Spark action: term top_docs
  and count_and_top_docs run one job each, a 5-url `should` lookup at most
  two and a sorted match-all three, on a snapshot with tombstones.
  total_hits rides the top-k collect (an Observation).
- The winners' url, timestamp and requested stored fields are read on the
  driver for the winners only; the values equal a Spark collect() of the
  same rows for every stored type (timestamp, binary, u64 decimal, json),
  and no session conf is set.
- A fast-field sort joins its sort column before the top-k.
- Response shape (docs/rest_api/search_api.md): score=0 under a field
  sort, sort_value=0 under a score sort, integer unix timestamps; phrase
  queries on fields without positions raise a clear error.
- One engine answers concurrent client threads with the sequential
  results on each site, and its plan caches are bounded LRU maps, as are
  its df and bucket caches when the dictionary is not preloaded.
"""

from __future__ import annotations

import datetime
import itertools
import math
import shutil
import tempfile
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DecimalType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from bayard_spark.query import SearchEngine

_groups = itertools.count()


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    gid = f"response-path-{next(_groups)}"
    sc.setJobGroup(gid, "test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _term(t, field="text"):
    return {"kind": "term", "options": {"field": field, "term": t}}


@pytest.fixture()
def spy_fetch(built, monkeypatch):
    engine, _ = built
    calls: list[tuple[list, list]] = []
    real = engine._fetch_stored

    def spy(ids, cols):
        calls.append((list(ids), list(cols)))
        return real(ids, cols)

    monkeypatch.setattr(engine, "_fetch_stored", spy)
    return engine, calls


def test_top_docs_rank_identity_and_complete_response(built):
    engine, oracle = built
    resp = engine.search(
        {"query": _term("water"), "collection_kind": "top_docs", "hits": 10}
    )
    assert resp.documents, "query should match documents"
    for d in resp.documents:
        assert d["id"].startswith("http")
        assert isinstance(d["timestamp"], int) and d["timestamp"] > 0
    ranked = oracle.top_k(_term("water"), 10)
    assert [d["id"] for d in resp.documents] == [
        oracle.docs[i]["url"] for i, _score in ranked
    ]


def test_stored_fields_fetch_only_the_winners(built, spy_fetch):
    engine, calls = spy_fetch
    resp = engine.search(
        {
            "query": _term("water"),
            "collection_kind": "count_and_top_docs",
            "hits": 5,
            "fields": ["lang", "url"],
        }
    )
    # one driver read, of exactly the winners, each column once
    assert len(calls) == 1
    ids, cols = calls[0]
    winners = [
        r["doc_id"]
        for r in engine.scores(_term("water"))
        .orderBy(F.desc("score"), "doc_id").limit(5).collect()
    ]
    assert ids == winners
    assert cols == ["url", "warc_ts", "lang"]
    assert resp.total_hits > 5
    for d in resp.documents:
        assert d["fields"]["lang"] in ("en", "de", "fr", "es", "ja", "pt", "it")
        assert d["fields"]["url"] == d["id"]


def test_fetch_equals_spark_collect(built):
    """Every live doc at once (no size gate): same dict as a Spark
    collect() of the same columns."""
    engine, _ = built
    want = {
        r["doc_id"]: r.asDict()
        for r in engine.docs.select("doc_id", "url", "warc_ts", "lang").collect()
    }
    got = engine._fetch_stored(sorted(want) + [10**9], ["url", "warc_ts", "lang"])
    assert got == want


def test_unknown_stored_field_raises(built):
    engine, _ = built
    with pytest.raises(ValueError, match="no stored field"):
        engine.search({"query": _term("water"), "fields": ["nope"]})


def test_sort_joins_sort_column_before_top_k(built):
    """The page is the top of the sort order over ALL matches, not the
    score winners re-sorted: the sort column is joined before the top-k."""
    engine, _ = built
    sort = {"field": "warc_ts", "order": "desc"}
    resp = engine.search(
        {"query": _term("the"), "collection_kind": "top_docs", "hits": 5,
         "sort": sort}
    )
    want = (
        engine.scores(_term("the"))
        .join(engine.docs.select("doc_id", "url", "warc_ts"), "doc_id")
        .orderBy(F.desc("warc_ts"), "doc_id").limit(5).collect()
    )
    assert [d["id"] for d in resp.documents] == [r["url"] for r in want]
    assert [d["sort_value"] for d in resp.documents] == [
        r["warc_ts"] for r in want
    ]
    by_score = engine.search(
        {"query": _term("the"), "collection_kind": "top_docs", "hits": 5}
    )
    assert [d["id"] for d in by_score.documents] != [r["url"] for r in want]
    for d in resp.documents:
        assert d["score"] == 0.0
        assert d["timestamp"] == int(d["sort_value"].timestamp())


def test_search_sets_no_session_conf(built, monkeypatch):
    """The session conf is shared by every client thread, so a request
    must not set it, even temporarily."""
    from pyspark.sql.conf import RuntimeConfig

    engine, _ = built
    sets = []
    monkeypatch.setattr(RuntimeConfig, "set",
                        lambda self, k, v: sets.append((k, v)))
    resp = engine.search(
        {"query": _term("the"), "hits": 200, "fields": ["lang", "text"]}
    )
    assert len(resp.documents) == 200
    assert sets == []


def test_plan_caches_are_bounded_lru(built):
    engine, _ = built

    class TwoEntryEngine(SearchEngine):
        CACHE_ENTRIES = 2

    small = TwoEntryEngine(engine.spark, engine.paths.root)
    for t in ("water", "people", "water", "day"):
        small.scores(_term(t))
    keys = [("term", "text", t, False) for t in ("water", "people", "day")]
    assert len(small._leaf_cache) == 2
    # "people" was least recently used when "day" arrived
    assert keys[0] in small._leaf_cache and keys[2] in small._leaf_cache
    assert keys[1] not in small._leaf_cache
    for pattern in ("wat.*", "peo.*", "da.*"):
        small._expand_regex("text", pattern)
    assert len(small._expansion_cache) == 2
    assert ("regex", "text", "wat.*") not in small._expansion_cache


def test_term_top_k_single_action(built, monkeypatch):
    engine, _ = built
    monkeypatch.setattr(SearchEngine, "DRIVER_MAX_POSTINGS", 0)
    for kind in ("top_docs", "count_and_top_docs"):
        engine.search({"query": _term("water"), "collection_kind": kind})
        _, n = spark_jobs(
            engine.spark,
            lambda: engine.search(
                {"query": _term("water"), "collection_kind": kind}
            ),
        )
        assert n == 1, kind


def test_lazy_caches_stay_bounded(built, monkeypatch):
    """Without a preloaded dictionary the df and bucket caches are LRU
    maps: a stream of novel terms leaves both at CACHE_ENTRIES, and a
    request with more terms than that still gets every df."""
    engine, _ = built
    monkeypatch.setattr(SearchEngine, "MAX_DICT_TERMS", 0)

    class FourEntryEngine(SearchEngine):
        CACHE_ENTRIES = 4

    lazy = FourEntryEngine(engine.spark, engine.paths.root)
    assert not lazy._dict_complete
    terms = sorted({t for (f, t) in engine._df_cache if f == "text"})[:10]
    assert lazy._df_of_many("text", terms) == engine._df_of_many("text", terms)
    assert len(lazy._df_cache) <= 4 and len(lazy._bucket_cache) <= 4
    for t in terms + ["zzzz-novel-1", "zzzz-novel-2"]:
        resp = lazy.search({"query": _term(t), "hits": 3})
        assert resp.total_hits == engine._df_of("text", t)
        assert len(lazy._df_cache) <= 4 and len(lazy._bucket_cache) <= 4


def test_lazy_buckets_run_no_spark_job(built, monkeypatch):
    """Without a preloaded dictionary `_buckets` hashes uncached terms on
    the driver: 0 Spark jobs, and over the whole index vocabulary (and a
    term it lacks) each bucket is Spark's pmod(xxhash64(term), n) and the
    one the term's blocks carry."""
    engine, _ = built
    monkeypatch.setattr(SearchEngine, "MAX_DICT_TERMS", 0)
    lazy = SearchEngine(engine.spark, engine.paths.root)
    assert not lazy._dict_complete
    vocab = (
        lazy._postings_ds.to_table(columns=["term", "bucket"])
        .group_by("term").aggregate([("bucket", "min"), ("bucket", "max")])
    )
    terms = vocab["term"].to_pylist() + ["zzzz-novel"]
    got, jobs = spark_jobs(lazy.spark, lambda: lazy._buckets(terms))
    assert jobs == 0
    n = lazy.meta.num_buckets
    want = dict(
        lazy.spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", F.pmod(F.xxhash64("term"), F.lit(n)).cast("int"))
        .collect()
    )
    assert got == want
    assert vocab["bucket_min"] == vocab["bucket_max"]
    assert dict(zip(vocab["term"].to_pylist(),
                    vocab["bucket_min"].to_pylist())) == {
        t: got[t] for t in terms[:-1]
    }


# ---------------------------------------------------------------- tombstones


@pytest.fixture(scope="module")
def tombstoned(spark):
    """A 200-doc base, one committed put with re-puts of base urls and a
    delete: a snapshot with tombstones."""
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.build.segments import SegmentWriter
    from bayard_spark.schema import webtext_index_meta
    from bayard_spark.sources.webtext import (
        WEBTEXT_SCHEMA,
        synthesize_batch,
        webtext_df,
    )

    root = tempfile.mkdtemp(prefix="resp_ts_idx_")
    builder = IndexBuilder(spark, webtext_index_meta(num_buckets=4), root)
    builder.build(webtext_df(spark, 200, partitions=4))
    base = sorted(
        r["url"] for r in spark.read.parquet(builder.paths.docs).collect()
    )
    pdf = synthesize_batch(np.arange(1000, 1030), 7)
    pdf.loc[25:, "url"] = base[:5]
    w = SegmentWriter(spark, builder)
    w.put_documents(spark.createDataFrame(pdf, WEBTEXT_SCHEMA))
    w.delete_documents(base[5:9])
    w.commit()
    yield root, list(pdf.url[:25]), base
    shutil.rmtree(root, ignore_errors=True)


def test_jobs_per_request_on_tombstoned_snapshot(
    spark, tombstoned, monkeypatch
):
    root, new_urls, base = tombstoned
    monkeypatch.setattr(SearchEngine, "DRIVER_MAX_POSTINGS", 0)
    engine = SearchEngine(spark, root)
    assert engine._n_tombstones == 9
    for kind in ("top_docs", "count_and_top_docs"):
        req = {"query": _term("water"), "collection_kind": kind, "hits": 10}
        resp, n = spark_jobs(spark, lambda: engine.search(req))
        assert n == 1, kind
        assert resp.documents
    live, gone = new_urls[:2] + base[:2], base[5:6]
    lookup = {
        "query": {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "should", "query": _term(u, "url")}
            for u in live + gone
        ]}},
        "hits": 10,
    }
    resp, n = spark_jobs(spark, lambda: engine.search(lookup))
    assert n <= 2
    assert resp.total_hits == len(live)
    assert sorted(d["id"] for d in resp.documents) == sorted(live)
    # the docs anti-join the tombstones without a distinct: the sorted
    # match-all runs 3 jobs (4 with the distinct's shuffle)
    all_sorted = {
        "query": {"kind": "all"}, "collection_kind": "count_and_top_docs",
        "hits": 10, "sort": {"field": "warc_ts", "order": "desc"},
    }
    resp, n = spark_jobs(spark, lambda: engine.search(all_sorted))
    assert n == 3
    assert resp.total_hits == 200 + 25 - 4


def kinds_requests(urls):
    """One request per query kind (and the sorted match-all and url
    lookup shapes), each with a stored field."""
    queries = {
        "all": {"kind": "all"},
        "term": _term("water"),
        "phrase": {"kind": "phrase", "options": {
            "field": "text", "phrase_terms": ["of", "the"], "slop": 1}},
        "range": {"kind": "range", "options": {
            "field": "lang", "start": "de", "end": "fr"}},
        "boost": {"kind": "boost", "options": {
            "query": _term("people"), "boost": 2.0}},
        "fuzzy_term": {"kind": "fuzzy_term", "options": {
            "field": "text", "term": "watr", "distance": 1}},
        "regex": {"kind": "regex", "options": {
            "field": "text", "regex": "wa.*"}},
        "boolean": {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "must", "query": _term("water")},
            {"occurrence": "should", "query": _term("day")},
            {"occurrence": "must_not", "query": _term("people")}]}},
        "must_not_only": {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "must_not", "query": _term("the")}]}},
        "query_string": {"kind": "query_string", "options": {
            "query": 'water "of the" -people',
            "default_search_fields": ["text"]}},
        "url_lookup": {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "should", "query": _term(u, "url")}
            for u in urls]}},
    }
    reqs = {
        name: {"query": q, "collection_kind": "count_and_top_docs",
               "hits": 10, "fields": ["lang"]}
        for name, q in queries.items()
    }
    reqs["all_sorted"] = {
        "query": {"kind": "all"}, "collection_kind": "top_docs", "hits": 10,
        "sort": {"field": "warc_ts", "order": "desc"},
    }
    return reqs


def assert_no_jobs_below_gate(spark, engine, on_site, reqs):
    for name, req in reqs.items():
        assert engine._postings_bound(req["query"]) < engine.DRIVER_MAX_POSTINGS
        resp, n = spark_jobs(spark, lambda: engine.search(req))
        assert n == 0, name
        with on_site(engine, "spark"):
            want = engine.search(req)
        assert resp.total_hits == want.total_hits, name
        assert len(resp.documents) == len(want.documents), name
        for got, exp in zip(resp.documents, want.documents):
            # a per-doc sum over several terms may add in another order
            assert math.isclose(got.pop("score"), exp.pop("score"),
                                rel_tol=1e-12), name
            assert got == exp, name


def test_no_spark_job_below_the_gate(spark, built, on_site):
    engine, _ = built
    urls = [r["url"] for r in engine.docs.select("url").limit(3).collect()]
    assert_no_jobs_below_gate(spark, engine, on_site, kinds_requests(urls))


def test_no_spark_job_below_the_gate_on_tombstoned_snapshot(
    spark, tombstoned, on_site
):
    root, new_urls, base = tombstoned
    engine, n_open = spark_jobs(spark, lambda: SearchEngine(spark, root))
    assert n_open == 0 and engine._n_tombstones == 9
    reqs = kinds_requests(new_urls[:2] + base[:2] + base[5:6])
    assert_no_jobs_below_gate(spark, engine, on_site, reqs)


def test_both_sites_raise_the_same_errors(built, on_site):
    engine, _ = built
    narrow = SearchEngine(engine.spark, engine.paths.root, max_expansions=2)
    bad = [
        {"query": {"kind": "phrase", "options": {
            "field": "lang", "phrase_terms": ["en", "de"]}}},
        {"query": {"kind": "phrase", "options": {
            "field": "text", "phrase_terms": ["water"]}}},
        {"query": {"kind": "range", "options": {
            "field": "warc_ts", "start": 0, "end": 1}}},
        {"query": {"kind": "nope"}},
        {"query": {"kind": "regex", "options": {
            "field": "text", "regex": "wa.*"}}},
        {"query": _term("water"), "sort": {"field": "lang"}},
        {"query": _term("water"), "fields": ["nope"]},
    ]
    for req in bad:
        raised = []
        for site in ("driver", "spark"):
            with on_site(narrow, site), pytest.raises(Exception) as err:
                narrow.search(req)
            raised.append((type(err.value), str(err.value)))
        assert raised[0] == raised[1], req


def test_gate_boundary(built):
    """A request whose postings bound reaches the gate runs the Spark
    plan; one below it runs on the driver."""
    engine, _ = built
    req = {"query": _term("water"), "collection_kind": "top_docs"}
    df = engine._df_of("text", "water")
    assert engine._postings_bound(req["query"]) == df > 0
    try:
        for gate, want_jobs in ((df - 1, 1), (df, 1), (df + 1, 0)):
            engine.DRIVER_MAX_POSTINGS = gate
            _, n = spark_jobs(spark=engine.spark, fn=lambda: engine.search(req))
            assert n == want_jobs, gate
    finally:
        del engine.DRIVER_MAX_POSTINGS


def test_driver_site_builds_no_spark_frame(spark, tombstoned, monkeypatch):
    """A fresh snapshot answering only driver-site requests never builds
    the Spark site's postings, docs or tombstone frames."""
    from bayard_spark.build.segments import Snapshot

    root, new_urls, base = tombstoned

    def no_frame(self, spark):
        raise AssertionError("a Spark frame was built")

    for name in ("postings", "docs", "tombstones"):
        monkeypatch.setattr(Snapshot, name, no_frame)
    engine = SearchEngine(spark, root)
    for req in kinds_requests(new_urls[:2] + base[5:6]).values():
        engine.search(req)
    monkeypatch.undo()
    monkeypatch.setattr(SearchEngine, "DRIVER_MAX_POSTINGS", 0)
    resp = engine.search({"query": _term("water"), "hits": 3})
    assert resp.documents and "postings" in vars(engine)


@pytest.fixture(scope="module")
def typed(spark):
    """Stored columns of every type the test schemas use: timestamp,
    binary, u64 decimal and a json string."""
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import FieldDef, IndexMeta

    root = tempfile.mkdtemp(prefix="resp_typed_idx_")
    meta = IndexMeta(
        name="typed",
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
    rows = [
        (f"https://t.example/{i}",
         datetime.datetime(2024, 1, 1 + i, 3, 4, 5, 123456),
         f"page {i} rust", f'{{"lang": "en", "n": {i}}}',
         None if i == 3 else bytes([i, 255 - i]), Decimal(2**63 + i - 2))
        for i in range(6)
    ]
    IndexBuilder(spark, meta, root).build(
        spark.createDataFrame(rows, schema), resume=False
    )
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_fetched_values_equal_spark_collect_for_every_type(spark, typed):
    engine = SearchEngine(spark, typed)
    cols = ["url", "warc_ts", "attrs", "payload", "views"]
    want = {
        r["doc_id"]: r.asDict()
        for r in engine.docs.select("doc_id", *cols).collect()
    }
    got = engine._fetch_stored(sorted(want), cols)
    assert got == want
    for doc_id, row in want.items():
        for c in cols:
            assert type(got[doc_id][c]) is type(row[c]), c
    assert any(r["payload"] is None for r in got.values())
    resp = engine.search(
        {"query": _term("rust", "title"), "hits": 10, "fields": cols}
    )
    assert resp.total_hits == 6
    for d in resp.documents:
        row = next(r for r in want.values() if r["url"] == d["id"])
        assert d["fields"] == {c: row[c] for c in cols}
        assert d["timestamp"] == int(row["warc_ts"].timestamp())


def test_candidate_estimate_composes_through_musts(built):
    """The must-join order's size estimate: a term's df, the smallest must
    of a boolean, and no estimate for a regex before its expansion."""
    engine, _ = built
    hot_df = engine._df_of("text", "the")
    assert engine._cand_upper_estimate(_term("the")) == hot_df
    must = {
        "kind": "boolean",
        "options": {"subqueries": [
            {"occurrence": "must", "query": _term("water")},
            {"occurrence": "must", "query": _term("the")},
        ]},
    }
    assert engine._cand_upper_estimate(must) == engine._df_of(
        "text", "water"
    )
    assert engine._cand_upper_estimate(
        {"kind": "regex", "options": {"field": "text", "regex": "wat.*"}}
    ) is None


class TestResponseShape:
    def test_field_sort_zeroes_score_and_int_timestamp(self, pruned_idx):
        spark, root, _ = pruned_idx
        engine = SearchEngine(spark, root)
        resp = engine.search({
            "query": {"kind": "all"},
            "sort": {"field": "warc_ts", "order": "asc"},
            "hits": 3,
        })
        for d in resp.documents:
            assert d["score"] == 0.0
            assert isinstance(d["timestamp"], int)
            assert d["sort_value"] is not None

    def test_score_sort_zeroes_sort_value(self, pruned_idx):
        spark, root, _ = pruned_idx
        engine = SearchEngine(spark, root)
        resp = engine.search({
            "query": {"kind": "term",
                      "options": {"field": "text", "term": "common"}},
            "hits": 3,
        })
        for d in resp.documents:
            assert d["sort_value"] == 0
            assert d["score"] > 0.0
            assert isinstance(d["timestamp"], int)


class TestPhraseRecordValidation:
    def test_phrase_on_freq_field_raises(self, pruned_idx):
        spark, root, _ = pruned_idx
        engine = SearchEngine(spark, root)
        # 'lang' is indexed raw/basic in the webtext meta
        with pytest.raises(ValueError, match="positions"):
            engine.scores({
                "kind": "phrase",
                "options": {"field": "lang", "phrase_terms": ["en", "de"]},
            })


def test_engine_is_thread_safe_for_concurrent_search(built, on_site):
    """One engine snapshot, 8 client threads, mixed query shapes, on each
    site — results must equal the sequential answers (shared plan caches
    may race benignly but never corrupt)."""
    engine, _ = built
    for site in ("driver", "spark"):
        with on_site(engine, site):
            concurrent_equals_sequential(engine)


def concurrent_equals_sequential(engine):
    from concurrent.futures import ThreadPoolExecutor

    shapes = [
        {"kind": "term", "options": {"field": "text", "term": "water"}},
        {"kind": "term", "options": {"field": "text", "term": "people"}},
        {"kind": "phrase",
         "options": {"field": "text", "phrase_terms": ["the", "water"],
                     "slop": 1}},
        {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "must", "query": {
                "kind": "term",
                "options": {"field": "text", "term": "water"}}},
            {"occurrence": "must", "query": {
                "kind": "term",
                "options": {"field": "text", "term": "day"}}}]}},
    ]

    def ids(q):
        resp = engine.search(
            {"query": q, "collection_kind": "top_docs", "hits": 10}
        )
        return [d["id"] for d in resp.documents]

    sequential = [ids(q) for q in shapes]
    reqs = shapes * 6
    with ThreadPoolExecutor(8) as ex:
        got = list(ex.map(ids, reqs))
    for i, g in enumerate(got):
        assert g == sequential[i % len(shapes)]


def test_lru_cache_under_thread_contention():
    """More threads than cores hammer one small cache with a short switch
    interval: it never holds more than its capacity and every read returns
    the value stored under its key."""
    import sys
    import threading

    from bayard_spark.query.engine import LRUCache

    cache = LRUCache(8)
    errors: list[str] = []

    def work(tid):
        for i in range(2000):
            key = (tid + i) % 32
            cache[key] = ("v", key)
            got = cache.get(key)
            if got is not None and got != ("v", key):
                errors.append(f"{key}: {got}")
            if len(cache) > 8:
                errors.append(f"size {len(cache)}")

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(cache) == 8
