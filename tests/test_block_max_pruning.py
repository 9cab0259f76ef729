"""Block-max pruning over a 1,600-doc index (the pruned_idx fixture).

1. total_hits is computed from an UNPRUNED plan.
2. Block-max pruning is disabled once tombstones exist: the build-time
   threshold is unsound over deleted docs (checked on the shared fixture
   and on an index whose threshold block is deleted whole).

TestTombstonePruning deletes 20 docs from the shared fixture, so it runs
after the count tests. Pruning runs in the Spark site's shards, so every search
here runs on the Spark site (the driver-site gate is 0).
"""

import pytest
from pyspark.sql import functions as F

from bayard_spark.build.segments import SegmentWriter
from bayard_spark.query import SearchEngine

N = 1600  # docs in the pruned_idx fixture (tests/conftest.py)


@pytest.fixture(autouse=True)
def spark_site(monkeypatch):
    monkeypatch.setattr(SearchEngine, "DRIVER_MAX_POSTINGS", 0)


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
        assert engine._n_tombstones > 0
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


def test_deleted_threshold_block_prunes_no_live_hit(spark, tmp_path):
    """The pruning threshold τ is the guaranteed floor of a FULL block,
    read from build-time metadata. Delete every doc of the block that sets
    τ: the live top-k now sits in blocks whose upper bound is below τ, so
    a top_docs request on this snapshot must not prune."""
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta

    n = 1300  # 10 full blocks of 'common' + a partial one; no salting
    meta = webtext_index_meta(num_buckets=4, hot_df_threshold=n + 1)
    urls = [f"https://tau.example/{i:05d}" for i in range(n)]
    frame = spark.createDataFrame(
        [(u, "2024-01-01 00:00:00", "x", "en") for u in urls],
        "url string, warc_ts string, text string, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    builder = IndexBuilder(spark, meta, str(tmp_path))
    # doc ids depend only on the url set: learn them first, then give the
    # docs of block 0 (ids 0-127) the top scores and ids 500-519 the next
    ids = {
        r["url"]: r["doc_id"]
        for r in builder.assign_doc_ids(frame).select("url", "doc_id").collect()
    }

    def text(doc_id):
        if doc_id < meta.block_size:
            return "common " * 5
        if 500 <= doc_id < 520:
            return "common common " + " ".join(f"m{j}" for j in range(8))
        return "common " + " ".join(f"w{j}" for j in range(20))

    src = spark.createDataFrame(
        [(u, "2024-01-01 00:00:00", text(ids[u]), "en") for u in urls],
        "url string, warc_ts string, text string, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    builder.build(src, resume=False)
    q = {"kind": "term", "options": {"field": "text", "term": "common"}}
    clean = SearchEngine(spark, builder.paths.root).search(
        {"query": q, "collection_kind": "top_docs", "hits": 10}
    )
    by_id = {v: k for k, v in ids.items()}
    assert [d["id"] for d in clean.documents] == [by_id[i] for i in range(10)]

    writer = SegmentWriter(spark, builder)
    writer.delete_documents([by_id[i] for i in range(meta.block_size)])
    writer.commit()
    engine = SearchEngine(spark, builder.paths.root)
    resp = engine.search({"query": q, "collection_kind": "top_docs", "hits": 10})
    assert [d["id"] for d in resp.documents] == [
        by_id[i] for i in range(500, 510)
    ]
