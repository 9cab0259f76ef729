"""Local replica of the driver's correctness gate.

Runs each __spark_entry__.queries()[name] and its oracle_sql()[name] twin on
the same sf dir, compares row count, column-name set, and an
order-insensitive value hash (rows sorted after stringifying, columns sorted
by name). Usage:

    python tools/check_entry.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["documents"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    import __spark_entry__ as E

    qs = E.queries()
    sqls = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in sqls:
            print(f"WEAK {name}: no oracle sql (rows={len(srows)})")
            continue
        try:
            res = con.execute(sqls[name])
            ocols = [d[0] for d in res.description]
            orows = [tuple(r) for r in res.fetchall()]
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if not problems and frame_hash(srows, scols) != frame_hash(orows, ocols):
            problems.append("value hash mismatch")
            sset = set(
                "\x1f".join(
                    norm_cell(r[i])
                    for i in sorted(range(len(scols)), key=lambda i: scols[i])
                )
                for r in srows
            )
            oset = set(
                "\x1f".join(
                    norm_cell(r[i])
                    for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                )
                for r in orows
            )
            extra_s = list(sset - oset)[:3]
            extra_o = list(oset - sset)[:3]
            problems.append(f"spark-only={extra_s} oracle-only={extra_o}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK   {name} ({len(srows)} rows)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
