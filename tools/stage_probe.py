"""Probe the blockify pipeline stage-by-stage at one arm (diagnostic).

Usage: python tools/stage_probe.py <executors> <cores> <n_docs>
Measures, on the same session and corpus:
  t_read      corpus scan only (count)
  t_tokenize  scan + mapInArrow tokenize (count of posting rows)
  t_encode    + shuffle + applyInArrow block encode (count of blocks)
  t_write     + parquet write WITH repartition (current production path)
  t_write2    + parquet write WITHOUT the extra repartition
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_experiment import corpus_path, make_cluster_spark  # noqa: E402

EXECUTORS, CORES, N_DOCS = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
import tools.scale_experiment as se  # noqa: E402

se.N_DOCS = N_DOCS


def main():
    from pyspark.sql import functions as F  # noqa: F811

    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta

    corpus = corpus_path()
    spark = make_cluster_spark(EXECUTORS, CORES)
    spark.sparkContext.setLogLevel("ERROR")
    # probe ids need not be dense — hash(url) stands in for the real
    # bucket-offset assignment so the tokenize/encode path is exercised alone
    src = spark.read.parquet(corpus).withColumn(
        "doc_id", F.xxhash64("url")
    )
    src.limit(1000).count()

    nb = int(os.environ.get("PROBE_BUCKETS", "64"))
    meta = webtext_index_meta(
        num_buckets=nb, salt_span=50_000,
        hot_df_threshold=100_000,
    )
    root = tempfile.mkdtemp(prefix="probe_", dir="/dev/shm/idx")
    builder = IndexBuilder(spark, meta, root)

    def timed(label, fn, reps=2):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        print(f"{label}: {best:.2f}s")
        return best

    timed("t_read", lambda: src.count())
    span = int(os.environ.get("PROBE_SALT_SPAN", "0"))
    rows = builder.posting_rows(src).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int")
    )
    if span:
        # production-style salting for every term whose bucket is hot is
        # approximated here by salting EVERY posting by doc range — the
        # upper bound of group granularity
        rows = rows.withColumn(
            "salt", (F.col("doc_id") % F.lit(span)).cast("int")
        )
    else:
        rows = rows.withColumn("salt", F.lit(0))
    timed("t_tokenize", lambda: rows.count())

    from bayard_spark.build.indexer import encode_blocks

    blocks = encode_blocks(rows, 128)
    timed("t_encode", lambda: blocks.count())

    def write_with_repart():
        out = os.path.join(root, "w1")
        shutil.rmtree(out, ignore_errors=True)
        (
            blocks.repartition(F.col("field"), F.col("bucket"))
            .write.mode("overwrite").partitionBy("field", "bucket")
            .parquet(out)
        )

    def write_direct():
        out = os.path.join(root, "w2")
        shutil.rmtree(out, ignore_errors=True)
        (
            blocks.write.mode("overwrite").partitionBy("field", "bucket")
            .parquet(out)
        )

    timed("t_write_repart", write_with_repart)
    timed("t_write_direct", write_direct)
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
