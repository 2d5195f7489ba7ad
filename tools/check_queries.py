"""Local replica of the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB at the
given sf dir, then compares row count, column names, and exact values
(columns sorted by name, rows sorted) — a stricter stand-in for the
driver's order-insensitive value hash.  Each line also gives the
seconds of each side apart (``spark_s``: build and collect the query;
``oracle_s``: run its DuckDB SQL) and the codegen classes its Spark side
compiled (``session.codegen_compiles``); the last line has the sweep's
total.  The same figures, the status, a hash of the sorted result and
each query's plan fingerprint (``plans/driver_order.py``) go to
``check_queries.<sf>.json`` in the working directory.  Queries run in
name order: a plan can depend on what an earlier query cached, so only
a fixed order gives fixed fingerprints, and only a full sweep of the
sf0.001 dir refreshes the committed ``plans/fingerprints.json``.

Usage: python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from langchain_memvid_spark.plans import driver_order  # noqa: E402
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
    summary = {}
    compiles_at_start = codegen_compiles(spark)
    for name, qd in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        rec = summary[name] = {"status": "FAIL"}
        t0 = time.time()
        c0 = codegen_compiles(spark)
        mark = driver_order.last_execution_id(spark)
        try:
            sdf = qd.fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            continue
        rec.update(spark_s=round(time.time() - t0, 2), rows=len(sdf),
                   compiles=codegen_compiles(spark) - c0,
                   hash=hashlib.sha256(canon(sdf).to_csv(index=False).encode()).hexdigest()[:16],
                   fingerprint=driver_order.plan_fingerprint(spark, mark))
        if qd.oracle is None:
            rec["status"] = "SKIP"
            print(f"SKIP  {name}: no oracle ({len(sdf)} rows, spark_s={rec['spark_s']:.1f}, "
                  f"{rec['compiles']} compiles)")
            continue
        t1 = time.time()
        try:
            ddf = con.sql(qd.oracle).df()
        except Exception:
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            continue
        rec["oracle_s"] = round(time.time() - t1, 2)
        ok, msg = compare(sdf, ddf)
        rec["status"] = "PASS" if ok else "FAIL"
        print(f"{rec['status']:5s} {name}: {msg} ({len(sdf)} rows, spark_s={rec['spark_s']:.1f} "
              f"oracle_s={rec['oracle_s']:.1f}, {rec['compiles']} compiles)")
    unknown = sorted(only - set(QUERIES))
    for name in unknown:
        print(f"FAIL  {name}: no such query in the registry")
    n_fail = sum(r["status"] == "FAIL" for r in summary.values())
    print(f"\n{len(summary) - n_fail}/{len(summary)} pass"
          + (f" ({len(unknown)} unknown name(s))" if unknown else "")
          + f"; {codegen_compiles(spark) - compiles_at_start} codegen compiles")
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    with open(f"check_queries.{sf_name}.json", "w") as f:
        json.dump(summary, f, indent=1)
    if sf_name == "sf0.001" and not only:
        moved = driver_order.refresh_fingerprints(
            {n: r["fingerprint"] for n, r in summary.items() if "fingerprint" in r})
        print(f"plans/fingerprints.json: {len(moved)} moved: {' '.join(moved)}")
    return 1 if n_fail or unknown else 0


if __name__ == "__main__":
    raise SystemExit(main())
