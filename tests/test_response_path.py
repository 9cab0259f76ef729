"""How a search turns winners into a response.

- A request below the driver-site gate runs no Spark job, for every query
  kind, on a clean and on a tombstoned snapshot; one whose postings bound
  is at the gate or over it runs on the Spark site.
- On the Spark site (gate 0) a request is one Spark action over the
  doc-id shards: term top_docs and count_and_top_docs run two jobs each
  (the shards' shuffle, then the top-k), a 5-url `should` lookup at most
  two and a sorted match-all three, on a snapshot with tombstones.
  total_hits rides the top-k collect (an Observation).
- The winners' url, timestamp and requested stored fields are read on the
  driver for the winners only; the values equal a Spark collect() of the
  same rows for every stored type (timestamp, binary, u64 decimal, json),
  and no session conf is set.
- A fast-field sort's column comes out of the shards with the scores.
- Response shape (docs/rest_api/search_api.md): score=0 under a field
  sort, sort_value=0 under a score sort, integer unix timestamps; phrase
  queries on fields without positions raise a clear error.
- One engine answers concurrent client threads with the sequential
  results on each site, and its plan caches are bounded LRU maps, as are
  its df and bucket caches when the dictionary is not preloaded.
- The driver site reads files only through the engine's byte-bounded read
  cache: per query kind, a cold and a warm answer are equal bit for bit,
  and the warm one reads no postings and no docs row group; an engine
  opened after a commit sees the new docs. query_string leaves are
  analyzed once per engine.
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
    for pattern in ("wat.*", "peo.*", "wat.*", "da.*"):
        small._expand_regex("text", pattern)
    assert len(small._expansion_cache) == 2
    # "peo.*" was least recently used when "da.*" arrived
    assert ("regex", "text", "wat.*") in small._expansion_cache
    assert ("regex", "text", "peo.*") not in small._expansion_cache


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
        assert n == 2, kind


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
        assert n == 2, kind
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
    assert n <= 2, n
    assert resp.total_hits == len(live)
    assert sorted(d["id"] for d in resp.documents) == sorted(live)
    # the shards drop the tombstoned docs themselves (no anti-join) and
    # emit the sort column (no join): the sorted match-all runs 3 jobs,
    # the shards' shuffle among them
    all_sorted = {
        "query": {"kind": "all"}, "collection_kind": "count_and_top_docs",
        "hits": 10, "sort": {"field": "warc_ts", "order": "desc"},
    }
    resp, n = spark_jobs(spark, lambda: engine.search(all_sorted))
    assert n == 3, n
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
        assert engine._resolve(req["query"])[1] < engine.DRIVER_MAX_POSTINGS
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
    assert engine._resolve(req["query"])[1] == df > 0
    try:
        for gate, want_jobs in ((df - 1, 2), (df, 2), (df + 1, 0)):
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


def test_plan_bound_composes(built, monkeypatch):
    """The plan's bound, which picks the site and the shard count: a
    term's df, Σ df over a phrase's distinct terms, a boolean's clauses
    and a regex's expansion, plus the doc-id high-water mark for `all`,
    `range` and a must_not-only boolean."""
    engine, _ = built
    df = {t: engine._df_of("text", t) for t in ("the", "water", "of")}
    n = engine._n_docs_estimate

    def bound(q):
        return engine._resolve(q)[1]

    def boolean(*clauses):
        return {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": o, "query": q} for o, q in clauses]}}

    assert bound(_term("the")) == df["the"] > 0
    assert bound(_term("zzzz-none")) == 0
    assert bound({"kind": "phrase", "options": {
        "field": "text", "phrase_terms": ["of", "the", "of"]}}) == (
        df["of"] + df["the"])
    assert bound(boolean(("must", _term("water")), ("must", _term("the")),
                         ("must_not", _term("of")))) == sum(df.values())
    assert bound(boolean(("must_not", _term("the")))) == n + df["the"]
    assert bound({"kind": "all"}) == bound({"kind": "range", "options": {
        "field": "lang", "start": "de", "end": "fr"}}) == n
    assert bound({"kind": "boost", "options": {
        "query": _term("water"), "boost": 3.0}}) == df["water"]
    assert bound({"kind": "regex", "options": {
        "field": "text", "regex": "wat.*"}}) == sum(
        engine._expand_regex("text", "wat.*").values())
    # one shard per gate's worth of postings, at least one per core of
    # the session's default parallelism, at most one per block
    most = -(-n // engine.meta.block_size)
    assert engine._n_shards(0) == min(
        engine.spark.sparkContext.defaultParallelism, most)
    try:
        for par in (1, 2):
            monkeypatch.setattr(type(engine.spark.sparkContext),
                                "defaultParallelism", par)
            for gate, want in ((1 << 62, 1), (df["the"], 1),
                               (df["the"] - 1, 2), (1, most), (0, most)):
                engine.DRIVER_MAX_POSTINGS = gate
                assert engine._n_shards(df["the"]) == min(
                    max(want, par), most), (par, gate)
    finally:
        del engine.DRIVER_MAX_POSTINGS


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
    may race benignly but never corrupt). On the driver site the threads
    also start once from an empty read cache, so they fill it together."""
    engine, _ = built
    for site in ("driver", "spark"):
        with on_site(engine, site):
            concurrent_equals_sequential(engine)
    with on_site(engine, "driver"):
        concurrent_equals_sequential(engine, cold=True)


def concurrent_equals_sequential(engine, cold: bool = False):
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
    if cold:
        engine._read_cache.clear()
    reqs = shapes * 6
    with ThreadPoolExecutor(8) as ex:
        got = list(ex.map(ids, reqs))
    for i, g in enumerate(got):
        assert g == sequential[i % len(shapes)]


@pytest.mark.parametrize("weighted", [False, True], ids=["count", "bytes"])
def test_lru_cache_under_thread_contention(weighted):
    """More threads than cores hammer one small cache with a short switch
    interval: it never holds more than its capacity (in entries, or in
    weight when entries are weighed) and every read returns the value
    stored under its key."""
    import sys
    import threading

    from bayard_spark.query.engine import LRUCache

    cache = LRUCache(24, lambda v: v[1] % 5 + 1) if weighted else LRUCache(8)
    errors: list[str] = []

    def work(tid):
        for i in range(2000):
            key = (tid + i) % 32
            cache[key] = ("v", key)
            got = cache.get(key)
            if got is not None and got != ("v", key):
                errors.append(f"{key}: {got}")
            if len(cache) > 8 and not weighted:
                errors.append(f"size {len(cache)}")
            if cache.weight > cache.capacity:
                errors.append(f"weight {cache.weight}")

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
    held = [cache.get(k) for k in range(32)]
    assert cache.weight == sum(
        (v[1] % 5 + 1) if weighted else 1 for v in held if v is not None
    )
    if not weighted:
        assert len(cache) == 8
    else:
        assert cache.capacity - 5 < cache.weight <= cache.capacity


def test_weighted_lru_bounds_total_weight():
    """Random weights: after every store the total weight is at most the
    capacity and equals the weights of the entries held."""
    from bayard_spark.query.engine import LRUCache

    rng = np.random.default_rng(0)
    cache = LRUCache(100, len)
    for i in range(2000):
        cache[int(rng.integers(0, 60))] = "x" * int(rng.integers(0, 40))
        held = [cache.get(k) for k in range(60)]
        assert cache.weight <= 100
        assert cache.weight == sum(len(v) for v in held if v is not None)


def test_weighted_lru_keeps_no_over_budget_entry():
    from bayard_spark.query.engine import LRUCache

    cache = LRUCache(10, len)
    cache["a"] = "x" * 4
    cache["big"] = "x" * 11
    assert "big" not in cache and cache.get("a") == "xxxx"
    # a key re-stored over budget is dropped, not left with its old value
    cache["a"] = "x" * 11
    assert "a" not in cache and cache.weight == 0
    # fetch hands an over-budget value to its caller without keeping it
    got = cache.fetch(["w"], lambda keys: {k: "y" * 20 for k in keys})
    assert got == {"w": "y" * 20} and "w" not in cache
    cache["e"] = "x" * 10
    assert "e" in cache and cache.weight == 10


def test_weighted_lru_evicts_least_recently_used():
    from bayard_spark.query.engine import LRUCache

    cache = LRUCache(10, len)
    cache["a"], cache["b"] = "x" * 4, "x" * 4
    cache.get("a")  # b is now least recently used
    cache["c"] = "x" * 4
    assert "b" not in cache and "a" in cache and "c" in cache
    cache["d"] = "x" * 7  # 15 > 10: a goes first, then c
    assert "a" not in cache and "c" not in cache
    assert "d" in cache and cache.weight == 7
    cache["e"] = "x" * 2
    cache["f"] = "x" * 1
    assert cache.weight == 10 and len(cache) == 3


# ------------------------------------------------------------ the read cache


class ReadSpy:
    """Counts the driver site's file reads: postings scans through the
    engine's `_postings_ds.to_table`, docs row groups through
    `ParquetFile.read_row_groups`."""

    def __init__(self, engine, monkeypatch):
        import pyarrow.parquet as pq

        self.scans = self.row_groups = 0
        spy = self
        ds = engine._postings_ds

        class Dataset:
            def __getattr__(self, name):
                return getattr(ds, name)

            def to_table(self, *a, **k):
                spy.scans += 1
                return ds.to_table(*a, **k)

        real = pq.ParquetFile.read_row_groups

        def read_row_groups(pf, row_groups, *a, **k):
            spy.row_groups += len(list(row_groups))
            return real(pf, row_groups, *a, **k)

        monkeypatch.setattr(engine, "_postings_ds", Dataset())
        monkeypatch.setattr(pq.ParquetFile, "read_row_groups", read_row_groups)

    def take(self) -> tuple[int, int]:
        out = (self.scans, self.row_groups)
        self.scans = self.row_groups = 0
        return out


def assert_cache_invisible(engine, reqs, monkeypatch, oracle=None):
    """Per request, from an empty read cache: the cold answer reads files,
    a warm repeat reads none, and the two are equal bit for bit (and, for
    a score-ranked request, equal the oracle's ranking)."""
    spy = ReadSpy(engine, monkeypatch)
    cold_reads = 0
    for name, req in reqs.items():
        engine._read_cache.clear()
        cold = engine.search(req)
        cold_reads += sum(spy.take())
        warm = engine.search(req)
        assert spy.take() == (0, 0), name
        assert warm == cold, name
        assert engine._read_cache.weight <= engine.READ_CACHE_BYTES
        if oracle is not None and "sort" not in req:
            query = req["query"]
            want = oracle.top_k(query, k=req["hits"])
            assert [d["id"] for d in cold.documents] == [
                oracle.docs[d]["url"] for d, _ in want
            ], name
            for d, (_, score) in zip(cold.documents, want):
                assert math.isclose(d["score"], score, rel_tol=1e-9), name
            assert cold.total_hits == len(oracle.run(query)), name
    assert cold_reads > 0


def test_read_cache_is_invisible(spark, built, on_site, monkeypatch):
    """Every query kind on the driver site of a clean snapshot."""
    engine, oracle = built
    urls = [r["url"] for r in engine.docs.select("url").limit(3).collect()]
    with on_site(engine, "driver"):
        assert_cache_invisible(
            engine, kinds_requests(urls), monkeypatch, oracle
        )


def test_read_cache_is_invisible_on_tombstoned_snapshot(
    spark, tombstoned, monkeypatch
):
    root, new_urls, base = tombstoned
    engine = SearchEngine(spark, root)
    assert engine._n_tombstones == 9
    reqs = kinds_requests(new_urls[:2] + base[:2] + base[5:6])
    assert_cache_invisible(engine, reqs, monkeypatch)


def test_read_cache_entries_are_read_only(built, on_site):
    engine, _ = built
    with on_site(engine, "driver"):
        engine.search({"query": {"kind": "phrase", "options": {
            "field": "text", "phrase_terms": ["of", "the"]}}})
        engine.search({"query": {"kind": "all"}, "sort": {"field": "warc_ts"}})
    post = engine._read_cache.get(("postings", "text", "the"))
    assert post.positions is not None and post.ids.size > 0
    ids, _ = engine._read_cache.get(("live", "warc_ts"))
    for arr in (post.ids, post.tfs, post.lens, ids,
                engine._live_column(None)[0]):
        with pytest.raises(ValueError, match="read-only"):
            arr[0] = 0


def test_new_engine_after_a_commit_sees_the_new_docs(spark):
    """The read cache belongs to an engine: one opened before a commit
    keeps answering from its snapshot, one opened after it sees the put
    docs and misses the deleted one, though both cached the same terms."""
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.build.segments import SegmentWriter
    from bayard_spark.schema import webtext_index_meta
    from bayard_spark.sources.webtext import (
        WEBTEXT_SCHEMA,
        synthesize_batch,
        webtext_df,
    )

    root = tempfile.mkdtemp(prefix="resp_reopen_idx_")
    try:
        builder = IndexBuilder(spark, webtext_index_meta(num_buckets=4), root)
        builder.build(webtext_df(spark, 60, partitions=2))
        base = sorted(
            r["url"] for r in spark.read.parquet(builder.paths.docs).collect()
        )
        pdf = synthesize_batch(np.arange(500, 520), 11)
        lookup = {"query": {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "should", "query": _term(u, "url")}
            for u in [pdf.url[0], base[0]]]}}, "hits": 10}
        before = SearchEngine(spark, root)
        old = [before.search(lookup), before.search({"query": _term("the")})]
        w = SegmentWriter(spark, builder)
        w.put_documents(spark.createDataFrame(pdf, WEBTEXT_SCHEMA))
        w.delete_documents([base[0]])
        w.commit()
        after = SearchEngine(spark, root)
        new = [after.search(lookup), after.search({"query": _term("the")})]
        assert [d["id"] for d in old[0].documents] == [base[0]]
        assert [d["id"] for d in new[0].documents] == [pdf.url[0]]
        assert new[1].total_hits > old[1].total_hits
        assert [before.search(lookup), before.search(
            {"query": _term("the")})] == old
    finally:
        shutil.rmtree(root, ignore_errors=True)



def test_query_string_leaves_are_analyzed_once(built, monkeypatch):
    from bayard_spark.analysis.analyzer import Analyzer

    engine, _ = built
    calls = []
    real = Analyzer.analyze_one

    def spy(self, text):
        calls.append(text)
        return real(self, text)

    monkeypatch.setattr(Analyzer, "analyze_one", spy)
    engine._analyzed.clear()
    opts = {"query": 'water "of the" -people', "default_search_fields": ["text"]}
    first = engine._parse(opts)
    assert engine._parse(opts) == first
    assert sorted(calls) == ["of the", "people", "water"]
    assert engine._analyzed.capacity == engine.CACHE_ENTRIES
