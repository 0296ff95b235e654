"""Local replica of the driver's correctness harness: run every
queries() entry on Spark at sf0.01 and compare against oracle_sql() via
DuckDB (row count + schema + order-insensitive values).

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, row-sorted frame. List cells are left as they are,
    so a query returning a list column fails here just as it fails in
    the harness this file replicates, whose canonicalizer cannot hash
    lists."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    problems = []
    if len(a) != len(b):
        problems.append(f"rowcount spark={len(a)} oracle={len(b)}")
    if sorted(a.columns) != sorted(b.columns):
        problems.append(f"columns spark={sorted(a.columns)} "
                        f"oracle={sorted(b.columns)}")
        return problems
    if problems:
        return problems
    a, b = canon(a), canon(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            aa = av.astype(float).to_numpy()
            bb = bv.astype(float).to_numpy()
            both_nan = np.isnan(aa) & np.isnan(bb)
            diff = np.abs(aa - bb)
            diff[both_nan] = 0.0
            exact = np.all((aa == bb) | both_nan)
            mx = float(np.nanmax(diff)) if len(diff) else 0.0
            if not exact:
                problems.append(f"col {c}: float mismatch max_abs={mx:.3e}"
                                + (" (TOL-OK)" if mx < 1e-9 else ""))
        else:
            av2 = av.astype(str)
            bv2 = bv.astype(str)
            if not av2.equals(bv2):
                bad = (av2 != bv2)
                i = int(np.argmax(bad.to_numpy()))
                problems.append(
                    f"col {c}: value mismatch at row {i}: "
                    f"spark={av2.iloc[i]!r} oracle={bv2.iloc[i]!r}")
    return problems


def main(only: list[str]) -> int:
    import __spark_entry__ as entrymod
    from refined_spark.session import get_spark

    spark = get_spark("oracle_check", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: "
                  f"{str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: "
                  f"{str(e)[:300]}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        hard = [p for p in problems if "TOL-OK" not in p]
        if hard:
            print(f"FAIL  {name}: {'; '.join(problems)} "
                  f"[{time.time()-t0:.1f}s]")
            failures += 1
        else:
            note = "" if not problems else f" ({'; '.join(problems)})"
            print(f"ok    {name}: {len(sdf)} rows{note} "
                  f"[{time.time()-t0:.1f}s]")
    spark.stop()
    return failures


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
