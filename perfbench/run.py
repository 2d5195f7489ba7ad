"""Benchmark entry point.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 15 --trace 0

Run it from the repo root.  It prints a run record line, then one JSON
line {"correct", "attempted", "failed", "metrics"}.  `--trace 0` gives
the end-to-end metrics, `--trace 1` the per-layer ones, as named in
BENCHMARK.json.

This launcher gives each run its own work directory under
perfbench/.work (TMPDIR, SPARK_LOCAL_DIRS and the driver's working
directory), runs `worker.py` in its own process group under a hard
timeout, then kills whatever is left of that group and deletes the
work directory.  It exits non-zero, printing no result, when the
engine sources are missing or the run fails.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARD_TIMEOUT_S = 170
DRIVER_MEMORY = "3g"
NEEDED = ("langchain_memvid_spark/session.py", "tools/check_queries.py", "bench.py")


def _kill_group(pgid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not in a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        # keep the JVMs' temp files and perf-data files out of /tmp too
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem",
    )
    env.pop("SPARK_SHUFFLE_PARTITIONS", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
    ]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=HARD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _kill_group(proc.pid)
        proc.wait()
        print(f"perfbench: run exceeded {HARD_TIMEOUT_S}s and was killed", file=sys.stderr)
        return 3
    finally:
        _kill_group(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns the directory
    if proc.returncode != 0:
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
