"""Profile the hot-term (df ~= n_docs) query path on a large prebuilt index.

Usage: python tools/term_hot_profile.py [index_root] [term]

Breaks the term_hot search into its physical pieces so the 100-TB-relevant
cost (decode of a df~=corpus posting list) is attributed, not guessed:
  1. whole search() wall (matches bench's measurement)
  2. scores() -> topk only (no stored-field response path), on the Spark
     site's doc-id shards
  3. the term's blocks and the doc-id shards they go to
  4. the shards' scorer throughput (postings/s through applyInArrow),
     unpruned and block-max pruned
"""
from __future__ import annotations

import os
import sys
import time

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/prof_idx_960k"
    term = sys.argv[2] if len(sys.argv) > 2 else "the"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("term-hot-profile")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.driver.memory", "24g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bayard_spark.query import SearchEngine

    engine = SearchEngine(spark, root)
    q = {"query": {"kind": "term", "options": {"field": "text", "term": term}},
         "collection_kind": "top_docs", "hits": 10}

    # warmup
    engine.search(q)

    t0 = time.time()
    engine.search(q)
    print(f"search() wall:          {time.time() - t0:.3f} s")

    t0 = time.time()
    sc = engine.scores(q["query"], topk_hint=10)
    rows = sc.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    print(f"scores+topk wall:       {time.time() - t0:.3f} s ({len(rows)} rows)")

    df_count = engine._df_of("text", term)
    n_shards = engine._n_shards(df_count)
    print(f"df={df_count}; doc-id shards: {n_shards}")
    blocks = engine.postings.filter(
        (F.col("field") == "text") & (F.col("term") == term)
    )
    t0 = time.time()
    n_blocks = blocks.count()
    print(f"blocks total: {n_blocks} (count in {time.time() - t0:.3f} s)")

    for hint, what in ((None, "unpruned"), (10, "top-10 pruned")):
        t0 = time.time()
        n = engine.scores(q["query"], topk_hint=hint).count()
        dt = time.time() - t0
        print(f"shards' scorer, {what}: {n} rows out of {df_count} "
              f"postings in {dt:.3f} s = {df_count / dt / 1e6:.2f} M postings/s")

    # pure scan cost of the payload bytes (no python decode)
    t0 = time.time()
    nbytes = blocks.select(
        F.sum(F.length("doc_bytes") + F.length("tf_bytes")
              + F.length("len_bytes")).alias("b")
    ).collect()[0]["b"]
    print(f"payload scan: {nbytes / 1e6:.1f} MB in {time.time() - t0:.3f} s")

    spark.stop()


if __name__ == "__main__":
    main()
