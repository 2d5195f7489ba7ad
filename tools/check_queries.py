"""Local replica of the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB at the
given sf dir, then compares row count, column names, and exact values
(columns sorted by name, rows sorted) — a stricter stand-in for the
driver's order-insensitive value hash.  Each line also gives the
seconds of each side apart (``spark_s``: build and collect the query;
``oracle_s``: run its DuckDB SQL) and the codegen classes its Spark side
compiled (``session.codegen_compiles``); the last line has the sweep's
total.

Usage: python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from langchain_memvid_spark.plans.registry import QUERIES  # noqa: E402
from langchain_memvid_spark.session import codegen_compiles, get_spark  # noqa: E402
from langchain_memvid_spark.sources.catalog import TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif not pd.api.types.is_object_dtype(df[c]):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> tuple[bool, str]:
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return False, f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return False, f"row count differs: spark={len(spark_df)} duck={len(duck_df)}"
    a, b = canon(spark_df), canon(duck_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            both_nan = av.isna() & bv.isna()
            eq = (av == bv) | both_nan
            if not eq.all():
                diff = (av - bv).abs()
                return False, f"col {c}: {int((~eq).sum())} mismatches, maxdiff={diff.max():.3e}"
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                i = int((~eq).idxmax())
                return False, f"col {c}: {int((~eq).sum())} mismatches, e.g. row {i}: {av[i]!r} vs {bv[i]!r}"
    return True, "ok"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check-queries")
    con = duck_con(sf_dir)
    failures = []
    compiles_at_start = codegen_compiles(spark)
    for name, qd in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        c0 = codegen_compiles(spark)
        try:
            sdf = qd.fn(spark, sf_dir).toPandas()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            continue
        spark_s = time.time() - t0
        compiles = codegen_compiles(spark) - c0
        if qd.oracle is None:
            print(f"SKIP  {name}: no oracle ({len(sdf)} rows, spark_s={spark_s:.1f}, {compiles} compiles)")
            continue
        t1 = time.time()
        try:
            ddf = con.sql(qd.oracle).df()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            continue
        oracle_s = time.time() - t1
        ok, msg = compare(sdf, ddf)
        status = "PASS " if ok else "FAIL "
        if not ok:
            failures.append(name)
        print(f"{status} {name}: {msg} ({len(sdf)} rows, spark_s={spark_s:.1f} "
              f"oracle_s={oracle_s:.1f}, {compiles} compiles)")
    unknown = sorted(only - set(QUERIES))
    for name in unknown:
        print(f"FAIL  {name}: no such query in the registry")
    failures.extend(unknown)
    n_run = len(only & set(QUERIES)) if only else len(QUERIES)
    print(f"\n{n_run - (len(failures) - len(unknown))}/{n_run} pass"
          + (f" ({len(unknown)} unknown name(s))" if unknown else "")
          + f"; {codegen_compiles(spark) - compiles_at_start} codegen compiles")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
