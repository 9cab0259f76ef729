"""Lossy 1-byte fieldnorm toggle (SURVEY §2.7 compatibility toggle).

With IndexMeta.lossy_fieldnorms the engine quantizes decoded lengths with
the shared 1-byte code; the oracle applies the same code, so rank identity
holds under the reference's information-loss class. Exact mode (default)
stays unchanged.
"""

import math
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from bayard_spark.build.indexer import IndexBuilder
from bayard_spark.fieldnorm import TABLE, quantize, quantize_one
from bayard_spark.oracle import OracleIndex
from bayard_spark.query import SearchEngine
from bayard_spark.schema import webtext_index_meta


class TestCode:
    def test_exact_below_41(self):
        assert all(quantize_one(n) == n for n in range(41))

    def test_lossy_above(self):
        assert quantize_one(55) != 55
        assert quantize_one(55) <= 55
        assert quantize_one(10_000) <= 10_000

    def test_monotone_table(self):
        assert (np.diff(TABLE) > 0).all()
        assert len(TABLE) == 256

    def test_quantize_rounds_down_to_bucket(self):
        for n in (41, 100, 5000, 123456):
            q = quantize_one(n)
            assert q in TABLE
            assert q <= n
            nxt = TABLE[np.searchsorted(TABLE, q) + 1]
            assert n < nxt

    @pytest.mark.parametrize("k", [0, 1, 39, 40, 41, 42, 100, 200, 254, 255])
    def test_bucket_edges(self, k):
        # code k covers [TABLE[k], TABLE[k+1]); the last code is open-ended
        lo = int(TABLE[k])
        hi = int(TABLE[k + 1]) - 1 if k + 1 < len(TABLE) else 2 * lo
        assert quantize_one(lo) == lo
        assert quantize_one(hi) == lo
        assert quantize(np.array([lo, hi, (lo + hi) // 2])).tolist() == [lo] * 3
        if k > 0:
            assert quantize_one(lo - 1) == int(TABLE[k - 1])


@pytest.fixture(scope="module")
def lossy_idx(spark):
    root = tempfile.mkdtemp(prefix="lossy_idx_")
    meta = webtext_index_meta(
        num_buckets=4, lossy_fieldnorms=True
    )
    # docs long enough (>40 tokens) that quantization actually loses bits
    rows = []
    for i in range(120):
        body = " ".join(f"w{j % 23}" for j in range(45 + (i * 7) % 50))
        rows.append(
            (f"https://l.example/{i:03d}", "2024-01-01 00:00:00",
             f"common {body}", "en")
        )
    src = spark.createDataFrame(
        rows, "url string, warc_ts string, text string, lang string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    builder = IndexBuilder(spark, meta, root)
    builder.build(src, resume=False)
    engine = SearchEngine(spark, root)
    oracle = OracleIndex(
        analyzers=engine.analyzers,
        field_analyzers={"url": "raw", "text": "default", "lang": "raw"},
        lossy_fieldnorms=True,
    )
    ids = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(builder.paths.docs)
        .select("url", "doc_id").collect()
    }
    for u, ts, t, lang in rows:
        oracle.add(ids[u], {"url": u, "text": t, "lang": lang})
    yield engine, oracle
    shutil.rmtree(root, ignore_errors=True)


class TestLossyRankIdentity:
    @pytest.mark.parametrize("term", ["common", "w1", "w22"])
    def test_term_scores_match_oracle(self, lossy_idx, term):
        engine, oracle = lossy_idx
        q = {"kind": "term", "options": {"field": "text", "term": term}}
        expected = oracle.top_k(q, k=10)
        got = sorted(
            [(r["doc_id"], r["score"]) for r in engine.scores(q).collect()],
            key=lambda kv: (-kv[1], kv[0]),
        )[:10]
        assert [d for d, _ in got] == [d for d, _ in expected]
        for (gd, gs), (_, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
        # the driver site quantizes the decoded lengths the same way
        assert engine._resolve(q)[1] < engine.DRIVER_MAX_POSTINGS
        resp = engine.search({"query": q, "collection_kind": "top_docs"})
        assert [d["id"] for d in resp.documents] == [
            oracle.docs[d]["url"] for d, _ in expected
        ]
        for d, (_, es) in zip(resp.documents, expected):
            assert math.isclose(d["score"], es, rel_tol=1e-9, abs_tol=1e-12)

    def test_lossy_differs_from_exact(self, lossy_idx):
        engine, oracle = lossy_idx
        exact = OracleIndex(
            analyzers=oracle.analyzers,
            field_analyzers=oracle.field_analyzers,
            lossy_fieldnorms=False,
        )
        exact.postings = oracle.postings
        exact.doc_len = oracle.doc_len
        exact.docs = oracle.docs
        q = {"kind": "term", "options": {"field": "text", "term": "common"}}
        lossy_scores = oracle.run(q)
        exact_scores = exact.run(q)
        assert any(
            not math.isclose(lossy_scores[d], exact_scores[d], rel_tol=1e-12)
            for d in lossy_scores
        )
