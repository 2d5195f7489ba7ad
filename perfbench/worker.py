"""One benchmark run, in the process that owns the Spark driver.

`run.py` starts this with the run's own TMPDIR, SPARK_LOCAL_DIRS and
working directory, and kills it if it overruns.  Stages:

1. set up: start the session, which launches the JVM, then run the
   workload's warm-up pass in it; `setup_s` is the start plus the
   warm-up;
2. measure whole passes for about `--seconds` seconds, checking every
   answer outside the timed span;
3. print the run record and then the result JSON as the last line.

With `--trace 1` every measured pass is traced: each call is
snapshotted from the status store, and a StreamingQueryListener
collects microbatch phases.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import threading
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import layers  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    MANIFEST = json.load(_fh)
OP_TIMEOUT_S = 60.0
RTT_REFERENCE_US = 10.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_record(args) -> dict:
    """Conditions of this run, so a slow host shows as such."""
    import re
    import subprocess

    from bench import _rig_health

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip()
    except Exception:
        commit = ""
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "langchain_memvid_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    rig = _rig_health()
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))  # fixed single-core work
    cpu_probe_s = time.perf_counter() - t0
    m = re.search(r"tcp_rtt_us=([\d.]+)", rig)
    rtt = float(m.group(1)) if m else None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "commit": commit or "unknown",
        "engine_sha256": digest.hexdigest()[:16],
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "rig": rig,
        "loopback_rtt_us": rtt,
        "rig_degraded": rtt is None or rtt > 3 * RTT_REFERENCE_US,
        "cpu_probe_s": cpu_probe_s,
    }


def vm_cpu_s() -> tuple[float, float]:
    """Busy and stolen CPU seconds of the whole machine so far, from
    /proc/stat: steal is time a vCPU was ready but the hypervisor ran
    something else, so it shows a slowed host in the record."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return (user + nice + system + irq + softirq) / hz, steal / hz


def start_session(work: str):
    from langchain_memvid_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Watchdog:
    """Cancels the session's jobs and streams when one call overruns, so
    a hang becomes a failed operation instead of a stalled run."""

    def __init__(self, spark, seconds: float):
        self.spark, self.seconds, self.fired = spark, seconds, False

    def _fire(self):
        self.fired = True
        self.spark.sparkContext.cancelAllJobs()
        for q in self.spark.streams.active:
            q.stop()

    def __enter__(self):
        self.fired = False
        self.timer = threading.Timer(self.seconds, self._fire)
        self.timer.daemon = True
        self.timer.start()
        return self

    def __exit__(self, *exc):
        self.timer.cancel()
        return False


class Tracer:
    """Brackets each call with job-id windows and keeps the jobs and
    stages of every window, gaps between calls included, so jobs no
    call owns show up as unattributed."""

    def __init__(self, spark):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        self.status = layers.StatusStore(spark)
        self.calls: list[layers.Call] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.last_seen = self.status.max_job_id()
        progress = self.progress = []

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Progress()
        spark.streams.addListener(self.listener)
        self.spark = spark
        self.own_s = 0.0  # time the caller spends in tracing bookkeeping

    def begin(self):
        t0 = time.perf_counter()
        mark = self.status.max_job_id(), len(self.progress), time.time()
        self.own_s += time.perf_counter() - t0
        return mark

    def end(self, name: str, mark) -> None:
        t0 = time.perf_counter()
        first_job, n_progress, start = mark
        end = time.time()
        end_job = self.status.max_job_id()
        jobs, stages = self.status.snapshot(self.last_seen, end_job, end)
        self.last_seen = max(self.last_seen, end_job)
        self.jobs.update(jobs)
        self.stages.update(stages)
        call = layers.Call(name, start, end, first_job, end_job)
        if self.progress[n_progress:]:
            call.stream = layers.stream_phases(self.progress[n_progress:])
        self.calls.append(call)
        self.own_s += time.perf_counter() - t0

    def close(self):
        self.spark.streams.removeListener(self.listener)


def run_pass(ops, spark, tracer=None) -> list[dict]:
    """One pass over ``ops``; returns per-op records {name, wall_s, ok}."""
    out = []
    for op in ops:
        ok, msg, result = True, "", None
        mark = tracer.begin() if tracer else None
        t0 = time.perf_counter()
        with Watchdog(spark, OP_TIMEOUT_S) as dog:
            try:
                result = op.call()
            except Exception as e:  # a failed call is a failed operation
                ok, msg = False, f"{type(e).__name__}: {e}"[:500]
        wall = time.perf_counter() - t0
        if tracer:
            tracer.end(op.name, mark)
        if dog.fired:
            ok, msg = False, f"timed out after {OP_TIMEOUT_S:.0f}s"
        if ok:
            try:
                ok, msg = op.check(result)
            except Exception as e:
                ok, msg = False, f"check raised {type(e).__name__}: {e}"[:500]
        if not ok:
            log(f"FAILED {op.name}: {msg}")
        out.append({"name": op.name, "wall_s": wall, "ok": ok})
    return out


def end_to_end(setup, pass_cpu) -> dict:
    """`pass_cpu_s` is the machine's busy CPU seconds per pass, not its
    wall time: on a shared host the hypervisor steals a varying share
    of the vCPUs, which moves wall time by far more than the bounds."""
    units = {m["name"]: m["unit"] for m in MANIFEST["end_to_end"]}
    vals = {
        "setup_s": setup["start_s"] + setup["warmup_s"],
        "pass_cpu_s": statistics.median(busy for busy, _ in pass_cpu),
    }
    return {k: (v, units[k]) for k, v in vals.items()}


def _med(rows, key):
    vals = [r[key] for r in rows]
    return statistics.median(vals) if vals else 0.0


def per_layer(workload: str, setup, passes, tracer, first_cpu) -> dict:
    """Every per-layer metric of the manifest, from traced passes;
    layers this workload does not touch read 0.  Tracing bookkeeping
    runs between calls, outside each call's timed span."""
    units = {m["name"]: m["unit"] for m in MANIFEST["per_layer"]}
    vals = dict.fromkeys(units, 0.0)
    vals["session.start_s"] = setup["start_s"]
    vals["session.warmup_s"] = setup["warmup_s"]

    acct = layers.attribute(tracer.calls, tracer.jobs, tracer.stages)
    rows = acct["calls"]
    n = len(passes)
    vals["spark.job_s"] = acct["job_s"] / n
    vals["spark.unattributed_job_s"] = acct["unattributed_job_s"] / n
    pass_s = statistics.median([sum(r["wall_s"] for r in p) for p in passes])
    vals["host.busy_cpu_s"], vals["host.steal_s"] = first_cpu
    vals["tracing.traced_pass_s"] = pass_s
    # what tracing adds to a pass: the status-store reads between calls
    vals["tracing.overhead_s"] = tracer.own_s / n

    by_name: dict[str, list[dict]] = {}
    for r in rows:
        by_name.setdefault(r["name"], []).append(r)

    if workload == "curation":
        vals["curation.pass_s"] = pass_s
        for q in workloads.CURATION:
            if q in workloads.STREAMS:
                continue
            rs = by_name.get(q, [])
            vals[f"curation.{q}.wall_s"] = _med(rs, "wall_s")
            vals[f"curation.{q}.driver_s"] = _med(rs, "driver_s")
            vals[f"curation.{q}.jobs"] = _med(rs, "jobs")
        for g in workloads.OPERATOR_GROUPS:
            names = [q for q, grp in workloads.CURATION.items() if grp == g]
            for k in ("wall_s", "driver_s", "jobs", "tasks", "cpu_s", "shuffle_mb"):
                vals[f"{g}.{k}"] = sum(_med(by_name.get(q, []), k) for q in names)
        for g in workloads.STREAMS:
            rs = by_name.get(g, [])
            for k in ("wall_s", "jobs", "batches", "add_batch_s", "engine_s"):
                vals[f"stream.{g}.{k}"] = _med([r for r in rs if k in r], k)
    elif workload == "store_mixed":
        first = passes[0]

        def walls(name):
            return [r["wall_s"] for r in first if r["name"] == name]

        search = walls("similarity_search")
        q = layers.tail_percentile(len(search))
        vals["store.ingest_s"] = statistics.median(walls("from_texts"))
        vals["store.search_p50_s"] = statistics.median(search)
        vals["store.search_p90_s"] = layers.percentile(search, q if q else 50.0)
        vals["store.lookup_p50_s"] = statistics.median(walls("get_documents_by_ids"))
        vals["store.add_p50_s"] = statistics.median(walls("add_texts"))
        vals["store.delete_p50_s"] = statistics.median(walls("delete_by_ids"))
        vals["store.ops_per_s"] = len(first) / sum(r["wall_s"] for r in first)
        for m in workloads.STORE_METHODS:
            for k in ("driver_s", "jobs", "tasks", "cpu_s"):
                vals[f"core.store.{m}.{k}"] = _med(by_name.get(m, []), k)
    return {k: (v, units[k]) for k, v in vals.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in MANIFEST["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    # Anything the engine or Spark prints goes to stderr; stdout carries
    # only the run record and the result line.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    record = run_record(args)
    wl = workloads.make(args.workload, args.seed)

    # The one cold start a user pays: get_spark launches the JVM.  The
    # warm-up pass then runs in that session, cold.
    t0 = time.perf_counter()
    spark = start_session(args.work)
    start_s = time.perf_counter() - t0
    warm = run_pass(wl.warm_ops(spark), spark)
    setup = {"start_s": start_s, "warmup_s": sum(r["wall_s"] for r in warm)}
    log(f"setup: start {setup['start_s']:.2f}s; warm-up {setup['warmup_s']:.2f}s")

    passes: list[list[dict]] = []
    tracer = Tracer(spark) if args.trace else None
    pass_cpu: list[tuple[float, float]] = []  # (busy, stolen) CPU seconds
    t_measure = time.perf_counter()
    while True:
        cpu0 = vm_cpu_s()
        passes.append(run_pass(wl.ops(spark), spark, tracer))
        cpu1 = vm_cpu_s()
        pass_cpu.append((cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]))
        elapsed = time.perf_counter() - t_measure
        last = sum(r["wall_s"] for r in passes[-1])
        log(f"pass {len(passes)}: {last:.2f}s")
        # stop before a pass that would end past the measuring window
        if len(passes) >= wl.min_passes and elapsed + last > args.seconds:
            break
    if tracer:
        tracer.close()

    everything = [r for p in [warm] + passes for r in p]
    failed = sum(not r["ok"] for r in everything)
    if tracer:
        metrics = per_layer(args.workload, setup, passes, tracer, pass_cpu[0])
    else:
        metrics = end_to_end(setup, pass_cpu)
    record["passes"] = len(passes)
    # per-call totals, of the warm-up and of the measured passes
    for key, rows in (("warm_op_s", warm), ("op_s", [r for p in passes for r in p])):
        record[key] = {}
        for r in rows:
            record[key][r["name"]] = record[key].get(r["name"], 0.0) + r["wall_s"]
    record["setup"] = setup
    record["pass_s"] = [sum(r["wall_s"] for r in p) for p in passes]
    record["pass_busy_cpu_s"] = [c[0] for c in pass_cpu]
    record["pass_steal_s"] = [c[1] for c in pass_cpu]
    spark.stop()

    result = {
        "correct": failed == 0,
        "attempted": len(everything),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    log(f"done after {time.time() - T_START:.1f}s")
    result_out.write("# run record: " + json.dumps(record) + "\n")
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
