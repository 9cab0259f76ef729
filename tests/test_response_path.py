"""How a search turns winners into a response.

- The top-docs path runs a single action when no stored fields are
  requested: url/warc_ts ride the slim frame through
  TakeOrderedAndProject. Requested stored fields are fetched by a bounded
  doc_id point-lookup over the winners only, and large id lists switch
  from an IN-list to a broadcast semi-join.
- The carry-through docs join switches to the point-lookup above the
  doc-store size gate and above the candidate-count gate, with identical
  results on both branches.
- Response shape (docs/rest_api/search_api.md): score=0 under a field
  sort, sort_value=0 under a score sort, integer unix timestamps; phrase
  queries on fields without positions raise a clear error.
- One engine answers concurrent client threads with the sequential
  results.
"""

from __future__ import annotations

import pytest

from bayard_spark.query import SearchEngine


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


def test_top_docs_single_action_without_fields(built, spy_fetch):
    engine, calls = spy_fetch
    _, oracle = built
    resp = engine.search(
        {
            "query": {
                "kind": "term", "options": {"field": "text", "term": "water"}
            },
            "collection_kind": "top_docs",
            "hits": 10,
        }
    )
    assert calls == [], "no-fields search must not run a point-lookup action"
    # response still complete: url + timestamp come from the carried columns
    assert resp.documents, "query should match documents"
    for d in resp.documents:
        assert d["id"].startswith("http")
        assert isinstance(d["timestamp"], int) and d["timestamp"] > 0
    # and rank-identical to the oracle
    ranked = oracle.top_k(
        {"kind": "term", "options": {"field": "text", "term": "water"}}, 10
    )
    got_urls = [d["id"] for d in resp.documents]
    want_urls = [oracle.docs[i]["url"] for i, _score in ranked]
    assert got_urls == want_urls


def test_stored_fields_fetch_is_bounded_point_lookup(built, spy_fetch):
    engine, calls = spy_fetch
    resp = engine.search(
        {
            "query": {
                "kind": "term", "options": {"field": "text", "term": "water"}
            },
            "collection_kind": "top_docs",
            "hits": 5,
            "fields": ["lang", "url"],
        }
    )
    # exactly one lookup, winners only, and only the NOT-carried column
    assert len(calls) == 1
    ids, cols = calls[0]
    assert len(ids) <= 5
    assert cols == ["lang"], "url is carried in the slim frame, not re-fetched"
    for d in resp.documents:
        assert d["fields"]["lang"] in ("en", "de", "fr", "es", "ja", "pt", "it")
        assert d["fields"]["url"] == d["id"]


def test_large_id_list_uses_broadcast_semi_join(built):
    engine, _ = built
    all_ids = [r["doc_id"] for r in engine.docs.select("doc_id").collect()]
    engine.ISIN_LOOKUP_MAX = 16  # force the join path on this instance
    try:
        fetched = engine._fetch_stored(all_ids, ["lang", "url"])
    finally:
        del engine.ISIN_LOOKUP_MAX
    assert set(fetched) == set(all_ids)
    sample = fetched[all_ids[0]]
    assert set(sample) == {"doc_id", "lang", "url"}


def test_sort_path_single_action_and_shape(built, spy_fetch):
    engine, calls = spy_fetch
    resp = engine.search(
        {
            "query": {
                "kind": "term", "options": {"field": "text", "term": "water"}
            },
            "collection_kind": "top_docs",
            "hits": 5,
            "sort": {"field": "warc_ts", "order": "desc"},
        }
    )
    assert calls == [], "sorted no-fields search must not run a point-lookup"
    ts = [d["timestamp"] for d in resp.documents]
    assert ts == sorted(ts, reverse=True)
    for d in resp.documents:
        assert d["score"] == 0.0 and d["sort_value"] is not None


def _term_req(fields=None, sort=None, hits=10):
    req = {
        "query": {"kind": "term",
                  "options": {"field": "text", "term": "water"}},
        "collection_kind": "count_and_top_docs",
        "hits": hits,
    }
    if fields:
        req["fields"] = fields
    if sort:
        req["sort"] = sort
    return req


def _doc_key(d):
    return (d["id"], d["score"], d["timestamp"], d["sort_value"], d["fields"])


def test_response_path_switches_at_doc_store_gate(built, monkeypatch):
    engine, _ = built
    small = engine.search(_term_req())
    assert engine._last_response_path == "carry"
    monkeypatch.setattr(engine, "CARRY_JOIN_DOCS_MAX", 0)
    big = engine.search(_term_req())
    assert engine._last_response_path == "point_lookup"
    assert [_doc_key(d) for d in small.documents] == [
        _doc_key(d) for d in big.documents
    ]
    assert small.total_hits == big.total_hits


def test_big_store_point_lookup_fetches_only_winners(built, monkeypatch):
    engine, _ = built
    calls = []
    real = engine._fetch_stored

    def spy(ids, cols):
        calls.append((list(ids), list(cols)))
        return real(ids, cols)

    monkeypatch.setattr(engine, "_fetch_stored", spy)
    monkeypatch.setattr(engine, "CARRY_JOIN_DOCS_MAX", 0)
    resp = engine.search(_term_req(hits=5))
    assert len(calls) == 1
    ids, cols = calls[0]
    assert len(ids) <= 5
    assert set(cols) == {"url", "warc_ts"}
    for d in resp.documents:
        assert d["id"].startswith("http") and d["timestamp"] > 0


def test_big_store_sort_carries_only_sort_field(built, monkeypatch):
    """Above the gate a fast-field sort still joins THE SORT COLUMN before
    top-k (ordering needs it) but url/warc_ts resolve via point-lookup;
    results identical to the small-store carry branch."""
    engine, _ = built
    sort = {"field": "warc_ts", "order": "desc"}
    small = engine.search(_term_req(sort=sort, hits=5))
    assert engine._last_response_path == "carry"
    monkeypatch.setattr(engine, "CARRY_JOIN_DOCS_MAX", 0)
    big = engine.search(_term_req(sort=sort, hits=5))
    assert engine._last_response_path == "point_lookup"
    assert [_doc_key(d) for d in small.documents] == [
        _doc_key(d) for d in big.documents
    ]


def _req(term="water", hits=10):
    return {
        "query": {"kind": "term",
                  "options": {"field": "text", "term": term}},
        "collection_kind": "count_and_top_docs",
        "hits": hits,
    }


def test_response_path_switches_at_candidate_gate(built, monkeypatch):
    engine, _ = built
    small = engine.search(_req())
    assert engine._last_response_path == "carry"
    monkeypatch.setattr(engine, "CARRY_JOIN_CANDIDATES_MAX", 0)
    big = engine.search(_req())
    assert engine._last_response_path == "point_lookup"
    assert [_doc_key(d) for d in small.documents] == [
        _doc_key(d) for d in big.documents
    ]
    assert small.total_hits == big.total_hits


def test_candidate_gate_uses_query_df_estimate(built):
    """A hot term (df over the gate) flips to point-lookup on its own df
    even though the doc store is far under CARRY_JOIN_DOCS_MAX; estimates
    compose through boolean musts (min) so a selective must keeps carry."""
    engine, _ = built
    hot_df = engine._df_of("text", "the")
    assert engine._cand_upper_estimate(
        {"kind": "term", "options": {"field": "text", "term": "the"}}
    ) == hot_df
    must = {
        "kind": "boolean",
        "options": {"subqueries": [
            {"occurrence": "must",
             "query": {"kind": "term",
                       "options": {"field": "text", "term": "water"}}},
            {"occurrence": "must",
             "query": {"kind": "term",
                       "options": {"field": "text", "term": "the"}}},
        ]},
    }
    assert engine._cand_upper_estimate(must) == engine._df_of(
        "text", "water"
    )
    # unknown kinds stay on the measured-faster carry branch
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


def test_engine_is_thread_safe_for_concurrent_search(built):
    """One engine snapshot, 8 client threads, mixed query shapes —
    results must equal the sequential answers (shared plan caches may
    race benignly but never corrupt)."""
    from concurrent.futures import ThreadPoolExecutor

    engine, _ = built
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
