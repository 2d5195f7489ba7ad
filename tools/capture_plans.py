"""Capture .explain("formatted") output for named registry queries.

Usage: python tools/capture_plans.py <out_dir> [--sf-dir DIR] [query ...]

Writes <out_dir>/<query>.txt with the formatted physical plan of the
query's final DataFrame (plan as constructed — AQE final plans are in
the UI, not here; the optimization-round evidence convention is the
constructed plan's shape: Exchange count, join strategy, PushedFilters,
ReadSchema, Python-eval nodes).

Streaming queries execute microbatches through run_to_memory before the
returned batch frame exists, so their "plan" here is the final batch
frame over the sink table.  The interesting plan lives inside the gate,
which runs a public multimodal/binary.py kernel on every microbatch
(streaming/media.py): explain that kernel on a static batch instead.
"""

from __future__ import annotations

import io
import os
import sys
import contextlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from langchain_memvid_spark.plans.registry import QUERIES  # noqa: E402
from langchain_memvid_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1]
    args = sys.argv[2:]
    sf_dir = "/root/testdata/sf0.1"
    if args and args[0] == "--sf-dir":
        sf_dir = args[1]
        args = args[2:]
    names = args or list(QUERIES)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())
            print(f"captured {name}", file=sys.stderr)
        except Exception as e:
            print(f"FAILED {name}: {e}", file=sys.stderr)


if __name__ == "__main__":
    main()
