"""Dry-run of the driver's correctness gate: every queries() entry vs its
oracle_sql() twin on DuckDB at a given sf dir. Mirrors the driver's compare
(sort columns by name, row count + per-value match, float tolerance).

Usage: python tools/gate_check.py [sf_dir] [gate_name ...]
(no gate names = all gates)
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
TABLES = ["documents"]


def main():
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    qs, sqls = e.queries(), e.oracle_sql()
    if ONLY:
        unknown = ONLY - set(qs)
        if unknown:
            # a typo'd gate name must fail loudly, not report all-green
            # on zero gates
            print(f"unknown gate name(s): {sorted(unknown)}")
            sys.exit(2)
        qs = {n: f for n, f in qs.items() if n in ONLY}
    fails = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, SF).toPandas()
            if name not in sqls:
                print(f"{name}: rows={len(sdf)} (no SQL twin — rows-only)")
                continue
            odf = con.execute(sqls[name]).df()
            sdf = sdf.reindex(sorted(sdf.columns), axis=1)
            odf = odf.reindex(sorted(odf.columns), axis=1)
            cols = list(sdf.columns)
            sdf = sdf.sort_values(cols).reset_index(drop=True)
            odf = odf.sort_values(list(odf.columns)).reset_index(drop=True)
            ok = len(sdf) == len(odf) and cols == list(odf.columns)
            why = "" if ok else "rows/schema"
            if ok:
                import pandas as pd

                for c in cols:
                    sa, ob = sdf[c], odf[c]
                    # normalize date-vs-datetime dtype mismatches (the
                    # driver's hasher does the equivalent)
                    if (
                        pd.api.types.is_datetime64_any_dtype(sa)
                        or pd.api.types.is_datetime64_any_dtype(ob)
                    ):
                        sa = pd.to_datetime(sa)
                        ob = pd.to_datetime(ob)
                    a, b = sa.to_numpy(), ob.to_numpy()
                    if a.dtype.kind == "M" or b.dtype.kind == "M":
                        good = (a == b).all()
                        if not good:
                            ok, why = False, f"values:{c}"
                            break
                        continue
                    if a.dtype.kind == "f" or b.dtype.kind == "f":
                        good = np.allclose(
                            a.astype(float), b.astype(float),
                            rtol=1e-9, atol=1e-12, equal_nan=True,
                        )
                    else:
                        good = (a.astype(str) == b.astype(str)).all()
                    if not good:
                        ok, why = False, f"values:{c}"
                        break
            print(f"{name}: {'MATCH' if ok else 'MISMATCH ' + why} "
                  f"({len(sdf)} vs {len(odf)})")
            if not ok:
                fails.append(name)
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ERROR {type(ex).__name__}: {ex}")
            fails.append(name)
    print(f"\n{len(qs) - len(fails)}/{len(qs)} gates match; fails: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
