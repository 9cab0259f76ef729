"""Block-max pruning over a 1,600-doc index (the pruned_idx fixture).

1. total_hits is computed from an UNPRUNED plan.
2. Block-max pruning is disabled once tombstones exist: the build-time
   threshold is unsound over deleted docs.

TestTombstonePruning deletes 20 docs from the shared fixture, so it runs
after the count tests.
"""

from pyspark.sql import functions as F

from bayard_spark.build.segments import SegmentWriter
from bayard_spark.query import SearchEngine

N = 1600  # docs in the pruned_idx fixture (tests/conftest.py)


class TestPrunedCount:
    def test_total_hits_counts_all_matches(self, pruned_idx):
        spark, root, _ = pruned_idx
        engine = SearchEngine(spark, root)
        resp = engine.search({
            "query": {"kind": "term",
                      "options": {"field": "text", "term": "common"}},
            "collection_kind": "count_and_top_docs",
            "hits": 10,
        })
        assert resp.total_hits == N
        assert len(resp.documents) == 10

    def test_count_only_unpruned(self, pruned_idx):
        spark, root, _ = pruned_idx
        engine = SearchEngine(spark, root)
        resp = engine.search({
            "query": {"kind": "term",
                      "options": {"field": "text", "term": "common"}},
            "collection_kind": "count",
        })
        assert resp.total_hits == N
        assert resp.documents == []


class TestTombstonePruning:
    def test_topk_correct_after_delete_above_pruning_gate(self, pruned_idx):
        spark, root, builder = pruned_idx
        # ground truth BEFORE deletes, unpruned: full ranking of 'common'
        engine0 = SearchEngine(spark, root)
        q = {"kind": "term", "options": {"field": "text", "term": "common"}}
        full = sorted(
            [(r["doc_id"], r["score"]) for r in engine0.scores(q).collect()],
            key=lambda kv: (-kv[1], kv[0]),
        )
        # delete the current top-20 docs by url, commit
        doomed_ids = {d for d, _ in full[:20]}
        urls = [
            r["url"]
            for r in engine0.docs.filter(
                F.col("doc_id").isin(sorted(doomed_ids))
            ).collect()
        ]
        writer = SegmentWriter(spark, builder)
        writer.delete_documents(urls)
        writer.commit()

        engine = SearchEngine(spark, root)
        assert engine.tombstones is not None
        resp = engine.search({
            "query": q, "collection_kind": "count_and_top_docs", "hits": 10,
        })
        expected_survivors = [d for d, _ in full if d not in doomed_ids][:10]
        got_urls = [d["id"] for d in resp.documents]
        url_of = {
            r["doc_id"]: r["url"]
            for r in engine0.docs.filter(
                F.col("doc_id").isin(expected_survivors)
            ).collect()
        }
        assert got_urls == [url_of[d] for d in expected_survivors]
        assert resp.total_hits == N - 20
