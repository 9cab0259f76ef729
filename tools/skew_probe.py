"""Measure hot-term salting under Zipf skew (VERDICT r3 #7).

Builds the SAME deterministic webtext corpus (naturally Zipfian — the
hottest term's df ≈ n_docs; set SKEW_INJECT=1 to additionally append a
super-hot synthetic term to every document) twice on a local-cluster[4,2]
session:

  salted    the bench's production config (salt_span=50k, threshold=100k):
            the encode groupBy key carries salt = doc_id // salt_span,
            splitting each head term's postings into parallel groups
  unsalted  hot_df_threshold = inf → each head term is ONE encode group

Reports best-of-N warm build wall times, the ratio, and the physical
evidence (posting blocks / salt groups of the hottest term). Measured
results (2026-08-17): 0.967x at 960k docs (neutral — the Arrow encoder
clears a ~1M-row group in seconds, no straggler at 8 cores) and 0.78x at
240k docs with an injected hot term (pure overhead at small scale) —
salting is threshold-gated scale insurance, not a universal win, and the
probe documents both sides. Writes BENCH/skew.json so bench.py folds the
numbers into BENCH/BASELINE.md.

Usage: python tools/skew_probe.py [n_docs] [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 960_000
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 2
HOT_TERM = "zzhot"
HOT_REPEATS = 12  # tf per doc — amplifies the head far past natural Zipf
INJECT_HOT = os.environ.get("SKEW_INJECT", "") == "1"
SALT_SPAN = 50_000     # the production bench config (bench.py _one_scale_build)
HOT_DF_THRESHOLD = 100_000


def skewed_corpus(spark) -> str:
    from pyspark.sql import functions as F

    from bayard_spark.sources.webtext import webtext_df

    tag = "hot" if INJECT_HOT else "zipf"
    path = os.path.join(tempfile.gettempdir(), f"skew_corpus_{tag}_{N_DOCS}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    df = webtext_df(spark, N_DOCS, partitions=32).drop("html")
    if INJECT_HOT:
        hot = " " + " ".join([HOT_TERM] * HOT_REPEATS)
        df = df.withColumn("text", F.concat(F.col("text"), F.lit(hot)))
    df.write.mode("overwrite").parquet(path)
    return path


def one_build(spark, corpus: str, salted: bool) -> dict:
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta

    meta = webtext_index_meta(
        num_buckets=256,
        salt_span=SALT_SPAN,
        hot_df_threshold=(HOT_DF_THRESHOLD if salted else 1 << 60),
    )
    from pyspark.sql import functions as F2

    root = tempfile.mkdtemp(prefix=f"skew_{'s' if salted else 'u'}_",
                            dir="/dev/shm")
    src = spark.read.parquet(corpus)
    builder = IndexBuilder(spark, meta, root)
    t0 = time.time()
    builder.build(src, resume=False)
    wall = time.time() - t0
    blocks = (
        spark.read.parquet(builder.paths.postings)
        .groupBy("term")
        .agg(F2.count("*").alias("n_blocks"),
             F2.countDistinct("salt").alias("n_salts"))
        .orderBy(F2.desc("n_blocks"))
        .limit(1)
        .collect()[0]
    )  # the hottest natural Zipf-head term
    shutil.rmtree(root, ignore_errors=True)
    return {
        "build_s": wall,
        "hot_blocks": int(blocks["n_blocks"]),
        "hot_salt_groups": int(blocks["n_salts"]),
    }


def main() -> None:
    spark = bench._make_cluster_spark(4)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = skewed_corpus(spark)
    # warm one small build (JIT + python workers)
    import pyspark.sql.functions as F

    warm = spark.read.parquet(corpus).filter(
        F.pmod(F.xxhash64("url"), F.lit(8)) == 0
    )
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta

    wroot = tempfile.mkdtemp(prefix="skew_warm_", dir="/dev/shm")
    IndexBuilder(
        spark, webtext_index_meta(num_buckets=256), wroot
    ).build(warm, resume=False)
    shutil.rmtree(wroot, ignore_errors=True)

    out = {"n_docs": N_DOCS, "inject_hot": INJECT_HOT,
           "salt_span": SALT_SPAN, "hot_df_threshold": HOT_DF_THRESHOLD,
           "arm": "local-cluster[4x2]"}
    for salted in (True, False):
        runs = [one_build(spark, corpus, salted) for _ in range(REPS)]
        best = min(runs, key=lambda r: r["build_s"])
        key = "salted" if salted else "unsalted"
        out[key] = {
            "build_s": round(best["build_s"], 2),
            "docs_per_sec": round(N_DOCS / best["build_s"], 1),
            "hottest_term_blocks": best["hot_blocks"],
            "hottest_term_salt_groups": best["hot_salt_groups"],
        }
    out["speedup"] = round(
        out["unsalted"]["build_s"] / out["salted"]["build_s"], 3
    )
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/skew.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
