"""A/B bench adjudication: run named registry queries alternating
between a BASE commit and the working tree (HEAD state), >=reps each,
and report the per-query minimum for both sides.

This is the protocol that settled the r3 "regression" as host noise
(BENCH_r04 notes: identical code varied up to 14x between reps) —
single bench runs on this rig CANNOT adjudicate a <2x delta; an
alternating min-of-reps comparison on one rig can.

Usage:
    python tools/bench_ab.py (--base <commit> | --base-dir DIR) \
        --queries knn_batch,simhash_near_pairs [--reps 3] [--sf-dir DIR]

``--base`` runs the base commit from a temporary `git worktree`
(read-only; the working tree is never touched); ``--base-dir`` runs an
existing checkout of the base instead (a `git clone` or `git archive`
copy), for hosts where a worktree cannot be added.  Each timing sample
runs in a FRESH Spark subprocess so JIT/cache state can't leak between
sides.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Subprocess runner: times the requested queries once each in a fresh
# session (after the same sf0.001 warmup bench.py uses) and prints JSON.
RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from langchain_memvid_spark.plans.registry import QUERIES
from langchain_memvid_spark.session import get_spark

names = sys.argv[2].split(",")
sf_dir = sys.argv[3]
spark = get_spark("bench-ab")
spark.sparkContext.setLogLevel("ERROR")
spark.read.parquet(f"{sf_dir}/region.parquet").count()
warm = "/root/testdata/sf0.001"
for n in names:
    try:
        QUERIES[n].fn(spark, warm).count()
    except Exception:
        pass
try:
    # persisted-codes queries: write the one-time ingest artifact at the
    # TARGET SF before timing (mirrors bench.py) — without this each
    # fresh-subprocess rep re-pays the layout write and the A/B compares
    # write+search against the base's derive+search
    from langchain_memvid_spark.plans.registry import _codes_table

    _codes_table(spark, sf_dir).count()
except Exception:
    pass
out = {}
for n in names:
    t0 = time.time()
    QUERIES[n].fn(spark, sf_dir).count()
    out[n] = round(time.time() - t0, 3)
print("ABRESULT " + json.dumps(out))
"""


def _sample(tree: str, queries: str, sf_dir: str) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, "-c", RUNNER, tree, queries, sf_dir],
        capture_output=True, text=True, cwd=tree, timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"runner produced no result in {tree}:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    base = ap.add_mutually_exclusive_group(required=True)
    base.add_argument("--base", help="base commit to compare against")
    base.add_argument("--base-dir", help="existing checkout of the base to compare against")
    ap.add_argument("--queries", required=True, help="comma-separated registry names")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    names = args.queries.split(",")
    if args.base_dir:
        base_tree = os.path.abspath(args.base_dir)
    else:
        base_tree = tempfile.mkdtemp(prefix="bench_ab_base_")
        subprocess.run(
            ["git", "worktree", "add", "--detach", base_tree, args.base],
            cwd=REPO, check=True, capture_output=True,
        )
    try:
        mins: dict[str, dict[str, float]] = {s: {} for s in ("base", "head")}
        for rep in range(args.reps):
            # alternate base/head inside each rep so slow host phases
            # hit both sides equally
            for side, tree in (("base", base_tree), ("head", REPO)):
                t = _sample(tree, args.queries, args.sf_dir)
                for n, v in t.items():
                    cur = mins[side].get(n)
                    mins[side][n] = v if cur is None else min(cur, v)
                print(f"# rep {rep + 1} {side}: {t}", file=sys.stderr)
        report = {
            n: {
                "base_min": mins["base"][n],
                "head_min": mins["head"][n],
                "ratio": round(mins["head"][n] / max(mins["base"][n], 1e-9), 3),
            }
            for n in names
        }
        base = args.base or base_tree
        print(json.dumps({"base": base, "reps": args.reps, "queries": report}))
    finally:
        if not args.base_dir:
            subprocess.run(
                ["git", "worktree", "remove", "--force", base_tree],
                cwd=REPO, capture_output=True,
            )


if __name__ == "__main__":
    main()
