"""Tests of the benchmark's own arithmetic and inputs (no Spark needed).

Run from the repo root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os

import pytest

import layers
import workloads
from workloads import StoreModel, _rotated

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.mark.parametrize(
    "n, q",
    [(100, 90.0), (99, 75.0), (199, 90.0), (200, 95.0), (1000, 99.0), (20, 50.0), (19, None)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert layers.tail_percentile(n) == q
    if q is not None:
        assert n - math.ceil(q / 100 * n) >= layers.MIN_BEYOND


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert layers.percentile(xs, 90) == 90
    assert layers.percentile(xs, 50) == 50
    assert layers.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        layers.percentile([], 50)


def test_union_length_merges_overlaps_and_clips():
    assert layers.union_length([]) == 0.0
    assert layers.union_length([(0, 1), (2, 3)]) == 2.0
    # overlapping and nested intervals count once
    assert layers.union_length([(0, 2), (1, 3), (1.5, 1.6)]) == 3.0
    assert layers.union_length([(5, 6), (0, 1), (0.5, 5.5)]) == 6.0
    # clipped to the call's window
    assert layers.union_length([(-1, 1), (2, 10)], lo=0, hi=4) == 3.0
    assert layers.union_length([(0, 1)], lo=2, hi=3) == 0.0


def test_driver_time_is_wall_minus_union_of_job_intervals():
    jobs = {
        1: {"start": 10.0, "end": 12.0, "stages": []},
        2: {"start": 11.0, "end": 13.0, "stages": []},  # overlaps job 1
        3: {"start": 15.0, "end": 21.0, "stages": []},  # runs past the call
    }
    call = layers.Call("q", start=10.0, end=20.0, first_job=0, end_job=3)
    row = layers.attribute([call], jobs, {})["calls"][0]
    assert row["wall_s"] == 10.0
    assert row["jobs"] == 3
    # busy: [10, 13] and [15, 20] -> 8 s, so the driver alone had 2 s
    assert row["driver_s"] == pytest.approx(2.0)
    # job_s sums job durations whole (overlap counted twice)
    assert row["job_s"] == pytest.approx(2 + 2 + 6)


def _snapshot():
    with open(os.path.join(HERE, "testdata", "status_snapshot.json")) as fh:
        raw = json.load(fh)
    calls = [layers.Call(**c) for c in raw["calls"]]
    jobs = {int(k): v for k, v in raw["jobs"].items()}
    stages = {int(k): v for k, v in raw["stages"].items()}
    return calls, jobs, stages


def test_attribution_by_job_id_window_on_recorded_snapshot():
    """Snapshot recorded from a live session: two registry queries with a
    stray two-job action between them that no traced call owns."""
    calls, jobs, stages = _snapshot()
    acct = layers.attribute(calls, jobs, stages)
    rows = {r["name"]: r for r in acct["calls"]}
    assert rows["cohort_retention"]["jobs"] == 7  # ids 7..13
    assert rows["q18_large_orders"]["jobs"] == 7  # ids 16..22
    gap = [j for j in jobs if not any(c.first_job < j <= c.end_job for c in calls)]
    assert gap == [14, 15]
    gap_s = sum(jobs[j]["end"] - jobs[j]["start"] for j in gap)
    assert acct["unattributed_job_s"] == pytest.approx(gap_s)
    total = sum(j["end"] - j["start"] for j in jobs.values())
    assert acct["job_s"] == pytest.approx(total)
    assert acct["unattributed_job_s"] < 0.1 * acct["job_s"]
    for r in rows.values():
        assert 0 <= r["driver_s"] <= r["wall_s"]
        assert r["tasks"] >= r["jobs"] - 1  # a job may reuse a skipped stage


def test_stage_shared_by_two_jobs_counts_once():
    jobs = {
        1: {"start": 0.0, "end": 1.0, "stages": [5, 6]},
        2: {"start": 1.0, "end": 2.0, "stages": [6, 7]},
    }
    stages = {
        s: {"tasks": 2, "cpu_s": 0.5, "shuffle_mb": 1.0, "input_mb": 0.0} for s in (5, 6, 7)
    }
    call = layers.Call("q", 0.0, 2.0, 0, 2)
    row = layers.attribute([call], jobs, stages)["calls"][0]
    assert row["tasks"] == 6 and row["cpu_s"] == pytest.approx(1.5)


def test_stream_phases_split_add_batch_from_engine():
    progress = [
        {"addBatch": 600, "triggerExecution": 700, "walCommit": 40},
        {"addBatch": 300, "triggerExecution": 380},
    ]
    out = layers.stream_phases(progress)
    assert out == {"batches": 2, "add_batch_s": 0.9, "engine_s": pytest.approx(0.18)}


def test_store_model_renumbers_after_delete():
    m = StoreModel(["a", "b", "c", "d"])
    m.delete([1, 3])
    m.add(["e"])
    assert m.texts == ["a", "c", "e"]


def test_rotation_depends_on_seed():
    assert _rotated(["x", "y", "z"], 4) == ["y", "z", "x"]
    assert sorted(_rotated(workloads.CURATION, 11)) == sorted(workloads.CURATION)


def test_store_inputs_repeat_for_a_seed():
    docs, held_out = workloads.store_inputs(7)
    assert (docs, held_out) == workloads.store_inputs(7)
    assert docs != workloads.store_inputs(8)[0]
    assert len(docs) == workloads.STORE_DOCS and len(set(docs)) == len(docs)
    # adds draw only texts the store does not hold yet
    assert not set(docs) & set(held_out)
    assert len(held_out) >= workloads.STORE_NEW_DOCS

