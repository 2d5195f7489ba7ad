"""bench.py's rig-health stamp must never hang the run that calls it."""

import threading

import bench


def test_rig_health_degrades_when_echo_is_dead(monkeypatch):
    class Idle:
        """An echo thread that never runs: the probe's recv must time out."""

        def __init__(self, *args, **kwargs):
            pass

        def start(self):
            pass

        def join(self, timeout=None):
            pass

    monkeypatch.setattr(threading, "Thread", Idle)
    assert bench._rig_health() == "rig: probe-failed"


def test_rig_health_stamps_round_trips():
    stamp = bench._rig_health()
    assert stamp.startswith("rig: tcp_rtt_us=") and "pair_rtt_us=" in stamp
