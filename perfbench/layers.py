"""Per-layer accounting from Spark's live status store.

A traced call records its wall-clock window and the window of Spark job
ids that started while it ran.  Jobs are attributed to the call by that
id window, not by job group: streaming `foreachBatch` jobs run under
the stream's run-id group and fixture thread pools run under no group,
yet all of them start inside the caller's window.

The arithmetic here works on plain dicts so it can be tested on a
recorded snapshot; `StatusStore` turns the JVM's `AppStatusStore` into
those dicts.  Nothing here turns on Spark's event log.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# nearest-rank percentiles tried from the top; the first one with at
# least ten samples beyond it is reported
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def tail_percentile(n: int, ladder=PERCENTILE_LADDER, min_beyond: int = MIN_BEYOND):
    """Highest percentile of the ladder with at least ``min_beyond`` of
    ``n`` samples strictly beyond its nearest-rank position, or None."""
    for q in ladder:
        if n - math.ceil(q / 100.0 * n) >= min_beyond:
            return q
    return None


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs),
    each clipped to [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Call:
    """One traced call into a layer: its name, wall-clock window and
    the half-open window ``(first_job, end_job]`` of job ids it started."""

    name: str
    start: float
    end: float
    first_job: int  # highest job id seen before the call
    end_job: int  # highest job id seen after the call
    stream: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def attribute(calls: list[Call], jobs: dict[int, dict], stages: dict[int, dict]) -> dict:
    """Per-call layer counters from a status snapshot.

    ``jobs`` maps job id -> {"start": s, "end": s, "stages": [ids]};
    ``stages`` maps stage id -> {"tasks", "cpu_s", "shuffle_mb",
    "input_mb"}.  A job belongs to the call whose id window holds it.
    Returns {"calls": [per-call dict], "job_s", "unattributed_job_s"},
    where job times are summed job durations over every job in the
    snapshot's window of the given calls.
    """
    out = []
    owned: set[int] = set()
    for c in calls:
        ids = [j for j in jobs if c.first_job < j <= c.end_job]
        owned.update(ids)
        row = {
            "name": c.name,
            "wall_s": c.wall_s,
            "jobs": len(ids),
            "tasks": 0,
            "cpu_s": 0.0,
            "shuffle_mb": 0.0,
            "input_mb": 0.0,
            "job_s": 0.0,
        }
        seen_stages: set[int] = set()
        for j in ids:
            job = jobs[j]
            row["job_s"] += job["end"] - job["start"]
            for sid in job["stages"]:
                st = stages.get(sid)
                if st is None or sid in seen_stages:
                    continue
                seen_stages.add(sid)
                row["tasks"] += st["tasks"]
                row["cpu_s"] += st["cpu_s"]
                row["shuffle_mb"] += st["shuffle_mb"]
                row["input_mb"] += st["input_mb"]
        busy = union_length([(jobs[j]["start"], jobs[j]["end"]) for j in ids], c.start, c.end)
        row["driver_s"] = max(0.0, c.wall_s - busy)
        row.update(c.stream)
        out.append(row)
    if calls:
        lo = min(c.first_job for c in calls)
        hi = max(c.end_job for c in calls)
        window = [j for j in jobs if lo < j <= hi]
    else:
        window = []
    total = sum(jobs[j]["end"] - jobs[j]["start"] for j in window)
    unattributed = sum(jobs[j]["end"] - jobs[j]["start"] for j in window if j not in owned)
    return {"calls": out, "job_s": total, "unattributed_job_s": unattributed}


def stream_phases(progress: list[dict]) -> dict:
    """Sum microbatch phases of the progress events of one call:
    ``add_batch_s`` is the `addBatch` phase (the sink body) and
    ``engine_s`` is the rest of `triggerExecution` (offsets, WAL,
    planning, commit: Spark's own per-batch bookkeeping)."""
    add = sum(p.get("addBatch", 0) for p in progress) / 1000.0
    trig = sum(p.get("triggerExecution", 0) for p in progress) / 1000.0
    return {"batches": len(progress), "add_batch_s": add, "engine_s": max(0.0, trig - add)}


class StatusStore:
    """Reads jobs and stages from the driver's in-memory AppStatusStore
    (`sc._jsc.sc().statusStore()`).  It retains only the last
    `spark.ui.retainedJobs`/`retainedStages` entries, so snapshot after
    each call, not once at the end."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def max_job_id(self) -> int:
        """Highest job id the scheduler has handed out so far.  Ids are
        assigned synchronously at submission, so this is exact even
        while the status store is still catching up."""
        return self._sc.dagScheduler().nextJobId() - 1

    def snapshot(self, first_job: int, end_job: int, now: float) -> tuple[dict, dict]:
        """Jobs with first_job < id <= end_job and their stages.  A job
        still running counts up to ``now``."""
        # the status store is fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty(10_000)
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        for j in range(first_job + 1, end_job + 1):
            try:
                jd = self._store.job(j)
            except Exception:  # evicted or never registered
                continue
            sub = jd.submissionTime()
            if sub.isEmpty():
                continue
            comp = jd.completionTime()
            start = sub.get().getTime() / 1000.0
            end = comp.get().getTime() / 1000.0 if not comp.isEmpty() else now
            sids = [jd.stageIds().apply(i) for i in range(jd.stageIds().size())]
            jobs[j] = {"start": start, "end": max(start, end), "stages": sids}
            for sid in sids:
                if sid in stages:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                stages[sid] = {
                    "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_mb": (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6,
                    "input_mb": sd.inputBytes() / 1e6,
                }
        return jobs, stages
