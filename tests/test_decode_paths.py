"""Posting decode paths of the engine.

- The decode without positions (codec.decode_blocks over whole Arrow
  batches) yields the same postings as the decode with positions, for one
  term and for several terms across buckets.
- Above DECODE_PARALLEL_MIN_DOCS the block frame gains a round-robin
  exchange; results are identical either way.
- The candidate-filtered phrase decode keeps rank identity, opens only on
  df skew, and returns an empty result when every candidate is
  tombstoned or the candidate array is empty.
- Under TOMBSTONE_BROADCAST_MAX tombstoned ids drop inside the decoder;
  above it an unhinted anti-join drops them, with identical results.

These are the Spark site's decode paths, so every search here runs there
(the driver-site gate is 0).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bayard_spark.query import SearchEngine


@pytest.fixture(autouse=True)
def spark_site(monkeypatch):
    monkeypatch.setattr(SearchEngine, "DRIVER_MAX_POSTINGS", 0)


def test_batched_decode_matches_per_block_path(built):
    engine, _ = built
    blocks = engine._leaf_blocks("text", "the")
    fast = (
        engine._decode(blocks, want_positions=False)
        .select("term", "doc_id", "tf", "len")
        .orderBy("doc_id")
        .collect()
    )
    slow = (
        engine._decode(blocks, want_positions=True)
        .select("term", "doc_id", "tf", "len")
        .orderBy("doc_id")
        .collect()
    )
    assert len(fast) > 0
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_batched_decode_multibucket_multi_term(built):
    """The multi-term (fuzzy/regex) decode shape: blocks of several terms
    from several buckets through one batched decode pass."""
    engine, _ = built
    terms = ["the", "water", "of"]
    buckets = engine._buckets(terms)
    blocks = engine.postings.filter(
        (F.col("field") == "text")
        & F.col("bucket").isin(sorted(set(buckets.values())))
        & F.col("term").isin(terms)
    )
    fast = (
        engine._decode(blocks, want_positions=False)
        .select("term", "doc_id", "tf", "len")
        .orderBy("term", "doc_id")
        .collect()
    )
    slow = (
        engine._decode(blocks, want_positions=True)
        .select("term", "doc_id", "tf", "len")
        .orderBy("term", "doc_id")
        .collect()
    )
    assert len(fast) > 0
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_decode_repartition_engages_above_hint(built, monkeypatch):
    engine, _ = built
    blocks = engine._leaf_blocks("text", "the")
    df_count = engine._df_of("text", "the")

    plain = engine._decode(blocks, want_positions=False)
    assert "RoundRobinPartitioning" not in plain._jdf.queryExecution().toString()

    monkeypatch.setattr(engine, "DECODE_PARALLEL_MIN_DOCS", 1)
    monkeypatch.setattr(engine, "DECODE_DOCS_PER_TASK", 16)
    par = engine._decode(blocks, want_positions=False, n_docs_hint=df_count)
    assert "RoundRobinPartitioning" in par._jdf.queryExecution().toString()

    a = sorted(
        tuple(r) for r in plain.select("doc_id", "tf", "len").collect()
    )
    b = sorted(tuple(r) for r in par.select("doc_id", "tf", "len").collect())
    assert a == b and len(a) == df_count


def test_term_scores_identical_with_forced_parallel_decode(
    built, monkeypatch
):
    engine, _ = built
    base = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in engine._term_scores("text", "the").collect()
    )
    engine._leaf_cache.clear()
    monkeypatch.setattr(engine, "DECODE_PARALLEL_MIN_DOCS", 1)
    monkeypatch.setattr(engine, "DECODE_DOCS_PER_TASK", 8)
    par = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in engine._term_scores("text", "the").collect()
    )
    engine._leaf_cache.clear()
    assert base == par


def test_phrase_semi_decode_rank_identity(built):
    """Forcing the candidate-filtered decode path must not change any
    phrase result: same doc ids AND scores as the oracle, for rare+hot
    and hot+hot shapes."""
    engine, oracle = built
    shapes = [
        ["the", "water"], ["water", "the"], ["of", "the"],
        ["people", "know"],
    ]
    engine._leaf_cache.clear()
    engine.PHRASE_SEMI_RATIO = 1  # open the gate for every phrase
    engine.PHRASE_SEMI_MAX = 10**9
    try:
        for terms in shapes:
            q = {"kind": "phrase",
                 "options": {"field": "text", "phrase_terms": terms,
                             "slop": 0}}
            resp = engine.search(
                {"query": q, "collection_kind": "count_and_top_docs",
                 "hits": 10}
            )
            ranked = oracle.top_k(q, 10)
            want_urls = [oracle.docs[i]["url"] for i, _s in ranked]
            got_urls = [d["id"] for d in resp.documents]
            assert got_urls == want_urls, terms
            for d, (_i, s) in zip(resp.documents, ranked):
                assert abs(d["score"] - s) < 1e-9
            assert resp.total_hits == len(oracle.run(q))
    finally:
        del engine.PHRASE_SEMI_RATIO, engine.PHRASE_SEMI_MAX
        engine._leaf_cache.clear()


def test_phrase_semi_gate_opens_only_on_skew(built, monkeypatch):
    engine, _ = built
    seen = []
    real = engine._decode

    def spy(blocks, want_positions, candidate_ids=None, **kwargs):
        seen.append(candidate_ids is not None)
        return real(blocks, want_positions, candidate_ids, **kwargs)

    monkeypatch.setattr(engine, "_decode", spy)
    engine._leaf_cache.clear()
    # similar dfs: gate stays closed -> no candidate decode anywhere
    engine.search(
        {"query": {"kind": "phrase",
                   "options": {"field": "text",
                               "phrase_terms": ["people", "know"],
                               "slop": 0}},
         "collection_kind": "top_docs", "hits": 5}
    )
    assert not any(seen)
    engine._leaf_cache.clear()


def _mini_builder(spark, tmp_path_factory, n_docs=40):
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta
    from bayard_spark.sources.webtext import webtext_df

    root = str(tmp_path_factory.mktemp("r5_idx"))
    meta = webtext_index_meta(num_buckets=4)
    builder = IndexBuilder(spark, meta, root)
    builder.build(webtext_df(spark, n_docs, partitions=2))
    return builder


def test_phrase_semi_decode_all_candidates_tombstoned(
    spark, tmp_path_factory
):
    from bayard_spark.build.segments import SegmentWriter
    from bayard_spark.query import SearchEngine

    builder = _mini_builder(spark, tmp_path_factory, n_docs=60)
    root = builder.paths.root
    probe = SearchEngine(spark, root)
    # pick a term present in few docs; tombstone EVERY doc holding it
    holders = [
        d["id"]
        for d in probe.search(
            {"query": {"kind": "term",
                       "options": {"field": "text", "term": "water"}},
             "collection_kind": "top_docs", "hits": 10_000}
        ).documents
    ]
    assert holders, "fixture term must occur"
    w = SegmentWriter(spark, builder)
    w.delete_documents(holders)
    w.commit()
    engine = SearchEngine(spark, root)
    engine.PHRASE_SEMI_RATIO = 1  # force the candidate-filtered path
    engine.PHRASE_SEMI_MAX = 10**9
    resp = engine.search(
        {"query": {"kind": "phrase",
                   "options": {"field": "text",
                               "phrase_terms": ["water", "the"],
                               "slop": 0}},
         "collection_kind": "count_and_top_docs", "hits": 10}
    )
    assert resp.total_hits == 0 and resp.documents == []


def test_decode_guard_on_empty_candidate_array(built):
    engine, _ = built
    blocks = engine._leaf_blocks("text", "the")
    out = engine._decode(
        blocks, want_positions=True,
        candidate_ids=np.array([], dtype=np.int64),
    )
    assert out.count() == 0


def test_tombstone_broadcast_gate(spark, tmp_path_factory, monkeypatch):
    """Under TOMBSTONE_BROADCAST_MAX the tombstoned ids drop inside the
    decoder (the plan has no join); above it the decoded stream is
    anti-joined with no broadcast hint (a web-scale purge cannot ride a
    broadcast). Both give the same results, without the deleted docs."""
    import bayard_spark.build.segments as seg
    from bayard_spark.build.segments import SegmentWriter
    from bayard_spark.query import SearchEngine

    builder = _mini_builder(spark, tmp_path_factory, n_docs=50)
    root = builder.paths.root
    w = SegmentWriter(spark, builder)
    victims = [
        r["url"] for r in spark.read.parquet(builder.paths.docs)
        .select("url").limit(7).collect()
    ]
    w.delete_documents(victims)
    w.commit()

    def plan(engine):
        return (
            engine._term_scores("text", "the")
            ._jdf.queryExecution().optimizedPlan().toString()
        )

    small = SearchEngine(spark, root)
    assert "Join" not in plan(small), "under the gate there is no join"
    monkeypatch.setattr(seg, "TOMBSTONE_BROADCAST_MAX", 0)
    big = SearchEngine(spark, root)
    assert "LeftAnti" in plan(big), "past the gate the anti-join returns"
    assert "strategy=broadcast" not in plan(big)
    req = {"query": {"kind": "term",
                     "options": {"field": "text", "term": "the"}},
           "collection_kind": "count_and_top_docs", "hits": 100}
    a, b = small.search(req), big.search(req)
    assert a.total_hits == b.total_hits > 0
    assert [d["id"] for d in a.documents] == [d["id"] for d in b.documents]
    assert not set(victims) & {d["id"] for d in a.documents}
