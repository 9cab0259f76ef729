"""Posting decode paths of the engine.

- `postings_from_blocks`, the one function the driver's read cache and
  every Spark-site shard turn blocks into postings with, yields the
  per-block reference decode with and without positions, for one term and
  for several terms across buckets in one call.
- A term's Spark-site scores are identical over one doc-id shard and over
  the most shards the index allows.
- A phrase whose every holder of one term is tombstoned has no hits.
- Under TOMBSTONE_BROADCAST_MAX tombstoned ids drop inside the shards'
  scorer; above it an unhinted anti-join drops them, with identical
  results.

These are the Spark site's paths, so every search here runs there (the
driver-site gate is 0).
"""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
import pytest

from bayard_spark.build.codec import decode_block
from bayard_spark.query import SearchEngine
from bayard_spark.query.engine import postings_from_blocks


@pytest.fixture(autouse=True)
def spark_site(monkeypatch):
    monkeypatch.setattr(SearchEngine, "DRIVER_MAX_POSTINGS", 0)


def _blocks(engine, terms):
    return engine._postings_ds.to_table(
        columns=["term", "doc_bytes", "tf_bytes", "len_bytes", "pos_bytes"],
        filter=(pc.field("field") == "text") & pc.field("term").isin(terms),
    )


def _per_block(blocks, term):
    """(doc ids, tfs, positions per doc) of `term`, one block at a time."""
    ids, tfs, pos = [], [], []
    for row in blocks.filter(pc.equal(blocks["term"], term)).to_pylist():
        d, t, p, offs = decode_block(
            row["doc_bytes"], row["tf_bytes"], row["pos_bytes"]
        )
        ids += d.tolist()
        tfs += t.tolist()
        pos += [p[a:b].tolist() for a, b in zip(offs[:-1], offs[1:])]
    order = np.argsort(ids, kind="stable")
    return ([ids[i] for i in order], [float(tfs[i]) for i in order],
            [pos[i] for i in order])


def test_batched_decode_matches_per_block_path(built):
    engine, _ = built
    blocks = _blocks(engine, ["the"])
    want = _per_block(blocks, "the")
    dead = np.empty(0, dtype=np.int64)
    [fast] = postings_from_blocks(blocks, ["the"], dead, False, False)
    [slow] = postings_from_blocks(blocks, ["the"], dead, False, True)
    assert len(want[0]) == engine._df_of("text", "the") > 0
    for p in (fast, slow):
        assert p.ids.tolist() == want[0] and p.tfs.tolist() == want[1]
    assert fast.lens.tolist() == slow.lens.tolist()
    assert fast.positions is None and slow.positions.to_pylist() == want[2]
    # a span keeps the doc ids in [lo, hi), tombstones drop
    lo, hi = want[0][5], want[0][-5]
    [cut] = postings_from_blocks(
        blocks, ["the"], np.array(want[0][6:8]), False, True, (lo, hi)
    )
    assert cut.ids.tolist() == [i for i in want[0][5:-5]
                                if i not in want[0][6:8]]
    assert cut.positions.to_pylist() == [
        p for i, p in zip(want[0], want[2]) if i in set(cut.ids.tolist())
    ]


def test_batched_decode_multibucket_multi_term(built):
    """Several terms from several buckets in one call: each term's
    postings equal its own call's."""
    engine, _ = built
    terms = ["the", "water", "of"]
    assert len(set(engine._buckets(terms).values())) > 1
    dead = np.empty(0, dtype=np.int64)
    together = postings_from_blocks(
        _blocks(engine, terms), terms, dead, False, True
    )
    for t, p in zip(terms, together):
        [alone] = postings_from_blocks(
            _blocks(engine, [t]), [t], dead, False, True
        )
        assert p.ids.size > 0
        assert p.ids.tolist() == alone.ids.tolist()
        assert p.tfs.tolist() == alone.tfs.tolist()
        assert p.lens.tolist() == alone.lens.tolist()
        assert p.positions.equals(alone.positions)


def test_term_scores_identical_with_forced_parallel_decode(
    built, monkeypatch
):
    """One doc-id shard, and the most shards the index allows."""
    engine, _ = built
    q = {"kind": "term", "options": {"field": "text", "term": "the"}}
    by_gate = []
    # one core, so a gate above the df gives one shard
    monkeypatch.setattr(type(engine.spark.sparkContext),
                        "defaultParallelism", 1)
    try:
        for gate in (1 << 62, 0):
            engine.DRIVER_MAX_POSTINGS = gate
            by_gate.append(sorted(
                (r["doc_id"], r["score"]) for r in engine.scores(q).collect()
            ))
    finally:
        del engine.DRIVER_MAX_POSTINGS
    assert engine._n_shards(engine._df_of("text", "the")) > 1
    assert by_gate[0] == by_gate[1]
    assert len(by_gate[0]) == engine._df_of("text", "the")


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
    resp = engine.search(
        {"query": {"kind": "phrase",
                   "options": {"field": "text",
                               "phrase_terms": ["water", "the"],
                               "slop": 0}},
         "collection_kind": "count_and_top_docs", "hits": 10}
    )
    assert resp.total_hits == 0 and resp.documents == []


def test_tombstone_broadcast_gate(spark, tmp_path_factory, monkeypatch):
    """Under TOMBSTONE_BROADCAST_MAX the tombstoned ids drop inside the
    shards' scorer (the plan has no join); above it the shards' output is
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
            engine.scores({"kind": "term",
                           "options": {"field": "text", "term": "the"}})
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
