"""Capture .explain('formatted') for declared queries() entries.

Usage:
    python tools/plan_capture.py <suffix> [name ...]

Writes plans/r07/<name>_<suffix>.txt for each requested query (default:
a curated set of round-7 optimization targets) over /root/testdata/sf0.01.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_TARGETS = [
    "gopher",
    "pipeline_clean",
    "corpus_report",
    "bigram_logprob",
    "repetition",
    "text_classifier",
    "unigram_logprob",
    "para_dedup",
]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans", "r07")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT_TARGETS

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT_DIR, exist_ok=True)
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exchange = plan.count("Exchange")
        n_python = (
            plan.count("BatchEvalPython")
            + plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("MapInArrow")
            + plan.count("FlatMapGroupsInArrow")
            + plan.count("FlatMapGroupsInPandas")
        )
        print(f"{name}: Exchange={n_exchange} PythonNodes={n_python} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
