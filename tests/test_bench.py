"""bench.py's row timer, with a scripted clock and CPU source: no
Spark, no sleeps, no timing thresholds."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_timed_row_warmup_median_and_tree_cpu(monkeypatch):
    """``_timed`` runs one warm-up and then N timed calls, reports the
    median of the timed calls only, and charges the row the process
    tree's CPU delta plus the reaped-children delta over all N + 1."""
    clock = [0.0]
    durations = iter([100.0, 3.0, 1.0, 2.0])  # warm-up, then three timed calls
    calls = []

    def run():
        calls.append(1)
        clock[0] += next(durations)

    tree_total = iter([10.0, 17.5])
    reaped = iter([(1.0, 0.5), (4.0, 1.0)])  # children (user, system)
    cpu_read_after = []

    def cpu_now():
        cpu_read_after.append(len(calls))
        return {"total": next(tree_total)}

    def times():
        user, system = next(reaped)
        return SimpleNamespace(children_user=user, children_system=system)

    monkeypatch.setattr(bench.procfs, "cpu_now", cpu_now)
    monkeypatch.setattr(os, "times", times)
    monkeypatch.setattr(bench, "time", SimpleNamespace(perf_counter=lambda: clock[0]))

    median, samples, cpu_s = bench._timed(run, n=3)

    assert len(calls) == 1 + 3
    assert samples == [3.0, 1.0, 2.0]  # the warm-up is not a sample
    assert median == 2.0
    assert cpu_read_after == [0, 4]  # before the warm-up, after the last call
    assert cpu_s == (17.5 - 10.0) + (5.0 - 1.5)
