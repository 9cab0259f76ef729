"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload {query_mix,ingest_refresh}
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one Spark session on
local[nproc]; every file it writes stays under the root (.perfbench_work
for indexes and Spark scratch, .perfbench_traces for span dumps). The
last line of stdout is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")
WORKLOADS = ("query_mix", "ingest_refresh")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment() -> None:
    """Keep Spark scratch, JVM and Python temp files inside the checkout,
    and let UDF workers import bayard_spark from it. Must run before the
    JVM starts: SPARK_LOCAL_DIRS overrides spark.local.dir."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark():
    from pyspark.sql import SparkSession

    n = nproc()
    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        # 2 GB driver heap: the whole run (JVM + Python workers) stays well
        # inside a 15 GB box shared with other tenants
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        # a fixed-size, pre-touched heap keeps the JVM's peak RSS from
        # following GC heuristics from run to run: peak_rss_mb then moves
        # with native and Python memory, not with how much heap GC touched
        .config("spark.driver.extraJavaOptions",
                f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bayard_spark", "__init__.py")):
        print("perfbench: bayard_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    pin_environment()

    import harness
    import workloads

    t_start = time.perf_counter()
    spark = start_spark()
    try:
        run = workloads.Run(
            spark=spark,
            seed=args.seed,
            seconds=args.seconds,
            tracer=harness.Tracer(bool(args.trace)),
            work=WORK,
            nproc=nproc(),
            spark_start_s=time.perf_counter() - t_start,
        )
        getattr(workloads, args.workload)(run)
        if args.trace:
            import probes

            probes.run_all(run)
        run.metrics_["peak_rss_mb"] = (harness.peak_rss_mb(jvm_pid()), "MB")
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    if args.trace:
        run.tracer.dump(os.path.join(TRACES, f"{args.workload}-seed{args.seed}.jsonl"))
    print(json.dumps(run.result(bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
