"""Scaling-arm experiment harness (not part of bench.py's measured output).

Runs the index build at several (executors, cores) local-cluster arms over
the SAME materialized corpus with the SAME logical job config (fixed
num_buckets — on a real cluster the layout is sized by data, not by
cluster), printing docs/sec per arm and pairwise efficiencies. Used to
decide bench.py's north-rule arms and config.

Usage: python tools/scale_experiment.py '[ [1,2], [4,2] ]' 240000 [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ARMS = json.loads(sys.argv[1]) if len(sys.argv) > 1 else [[1, 4], [4, 4]]
N_DOCS = int(sys.argv[2]) if len(sys.argv) > 2 else 240_000
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 2
NUM_BUCKETS = int(os.environ.get("SCALE_NUM_BUCKETS", "64"))
LOCAL_DIR = os.environ.get("SCALE_LOCAL_DIR", "")  # e.g. /dev/shm/spark-local
IDX_BASE = os.environ.get("SCALE_IDX_BASE", tempfile.gettempdir())


def make_cluster_spark(executors: int, cores: int):
    from pyspark.sql import SparkSession

    os.environ.setdefault("SPARK_HOME", __import__("pyspark").__path__[0])
    b = (
        SparkSession.builder.master(
            f"local-cluster[{executors},{cores},12288]"
        )
        .appName(f"scale-{executors}x{cores}")
        .config("spark.sql.shuffle.partitions", str(executors * cores * 2))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .config("spark.executor.memory", "10g")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
        # pin input split size so BOTH arms see identical task granularity
        # (default split planning folds defaultParallelism in, handing the
        # small arm fatter, more efficient tasks — a measurement artifact)
        .config("spark.sql.files.maxPartitionBytes", os.environ.get(
            "SCALE_MAX_PART_BYTES", "8388608"))
        .config("spark.sql.files.openCostInBytes", "1048576")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SCALE_ARROW_BATCH", "10000"),
        )
    )
    if LOCAL_DIR:
        os.makedirs(LOCAL_DIR, exist_ok=True)
        b = b.config("spark.local.dir", LOCAL_DIR)
    extra = os.environ.get("SCALE_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k, v)
    return b.getOrCreate()


def corpus_path() -> str:
    from bayard_spark.sources.webtext import webtext_df
    from pyspark.sql import SparkSession

    path = os.path.join(tempfile.gettempdir(), f"bench_webtext_{N_DOCS}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    webtext_df(spark, N_DOCS, partitions=64).drop("html").write.mode(
        "overwrite"
    ).parquet(path)
    spark.stop()
    return path


def run_arm(executors: int, cores: int, corpus: str) -> dict:
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta

    spark = make_cluster_spark(executors, cores)
    spark.sparkContext.setLogLevel("ERROR")
    src = spark.read.parquet(corpus)
    src.limit(1000).count()
    best, lineages = float("inf"), None
    for _ in range(REPS):
        root = tempfile.mkdtemp(prefix="scale_idx_", dir=IDX_BASE)
        meta = webtext_index_meta(
            num_buckets=NUM_BUCKETS,
            salt_span=50_000,
            hot_df_threshold=100_000,
        )
        builder = IndexBuilder(spark, meta, root)
        t0 = time.time()
        builder.build(src, resume=False)
        wall = time.time() - t0
        if wall < best:
            best = wall
            lineages = {}
            for f in sorted(os.listdir(builder.paths.lineage)):
                with open(os.path.join(builder.paths.lineage, f)) as fh:
                    lineages[f] = json.load(fh)
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    stage_ms = {
        k.replace(".json", ""): round(v.get("build_ms", 0) / 1000, 2)
        for k, v in (lineages or {}).items()
    }
    return {
        "arm": f"{executors}x{cores}",
        "cores": executors * cores,
        "wall_s": round(best, 2),
        "docs_per_sec": round(N_DOCS / best, 1),
        "stage_s": stage_ms,
    }


def main():
    corpus = corpus_path()
    results = [run_arm(e, c, corpus) for e, c in ARMS]
    for r in results:
        print(json.dumps(r))
    if len(results) >= 2:
        lo, hi = results[0], results[-1]
        ratio = hi["docs_per_sec"] / lo["docs_per_sec"]
        ideal = hi["cores"] / lo["cores"]
        print(
            json.dumps(
                {
                    "speedup": round(ratio, 3),
                    "ideal": ideal,
                    "efficiency": round(ratio / ideal, 3),
                }
            )
        )


if __name__ == "__main__":
    main()
