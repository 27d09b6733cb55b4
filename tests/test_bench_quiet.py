"""bench.py's quiet verdict: CPU time other processes used over the run,
from the host and process-tree counters, against a quarter of the
host's cores."""

from __future__ import annotations

import pytest

import bench
from perfbench import hostcpu


@pytest.mark.parametrize(
    "external_cores, quiet",
    [(0.0, True), (0.05, True), (1.0, False), (2.0, False)],
    ids=["idle", "daemons", "one_core_of_4", "two_cores_of_4"],
)
def test_quiet_verdict_from_cpu_counters(monkeypatch, external_cores, quiet):
    """A 4-core run of 100 s whose own tree used 300 CPU seconds: quiet
    while the rest of the host stays under one core's worth."""
    wall, own = 100.0, 300.0
    host = iter([1000.0, 1000.0 + own + external_cores * wall])
    tree = iter([50.0, 50.0 + own])
    monkeypatch.setattr(hostcpu, "host_busy_s", lambda: next(host))
    monkeypatch.setattr(hostcpu, "tree_cpu_s", lambda: next(tree))
    window = hostcpu.CpuWindow()
    window.start()
    cpu = window.stop()
    assert cpu["external_cpu_s"] == pytest.approx(external_cores * wall)
    assert bench.quiet_verdict(cpu["external_cpu_s"], 4, wall) is quiet
