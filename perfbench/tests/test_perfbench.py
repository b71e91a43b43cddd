"""The benchmark's own arithmetic, on fakes only: no Spark, no timing.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import procfs  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from kg import _metric_bounds, reference_ranks  # noqa: E402
from ledger import Ledger  # noqa: E402
from qmix import canonical  # noqa: E402


# -- order statistics ---------------------------------------------------------

def test_median_and_quartiles_follow_statistics_module():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    assert stats.median(values) == 3.5
    assert stats.quartiles(values) == tuple(statistics.quantiles(values, n=4))
    q1, med, q3 = stats.quartiles(values)
    assert stats.spread(values) == pytest.approx((q3 - q1) / med)


def test_quartiles_of_one_value_have_no_spread():
    assert stats.quartiles([2.0]) == (2.0, 2.0, 2.0)
    assert stats.spread([2.0]) == 0.0


def test_median_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        stats.median([])


def test_p90_only_with_ten_samples_beyond_it():
    values = [float(v) for v in range(1, 101)]
    assert stats.tail_percentile(values, 90) == 90.0  # 91..100 lie beyond
    assert stats.tail_percentile(values[:99], 90) is None  # only 9 beyond
    assert stats.tail_percentile([], 50) is None


def test_p90_counts_ties_at_the_percentile_as_not_beyond():
    values = [1.0] * 95 + [2.0] * 5
    assert stats.tail_percentile(values, 90) is None


# -- process-tree CPU ---------------------------------------------------------

def _fake_proc(tmp_path, procs, steal_ticks=0):
    """procs: pid → (ppid, comm, cmdline, utime, stime, cutime, cstime)."""
    for pid, (ppid, comm, cmd, ut, st, cut, cst) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)] + ["0"] * 5
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(rest))
        (d / "cmdline").write_bytes(cmd.replace(" ", "\0").encode())
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    stat = tmp_path / "stat"
    stat.write_text(f"cpu  10 0 5 100 0 0 0 {steal_ticks} 0 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n")
    return str(tmp_path), str(stat)


def test_tree_cpu_sums_live_members_and_their_reaped_children(tmp_path):
    hz = procfs.TICKS_PER_S
    root, stat = _fake_proc(tmp_path, {
        100: (1, "python3", "python3 perfbench/run.py", 2 * hz, 1 * hz, 50 * hz, 0),
        101: (100, "java", "java -cp x org.apache.spark.deploy.SparkSubmit", 30 * hz, 5 * hz, 0, 0),
        102: (101, "python3", "python3 -m pyspark.daemon", 1 * hz, 0, 7 * hz, 1 * hz),
        103: (102, "python3", "python3 -m pyspark.daemon", 3 * hz, 1 * hz, 0, 0),
        104: (100, "sh", "sh -c ps", 1 * hz, 0, 0, 0),
        200: (1, "java", "java unrelated", 99 * hz, 0, 0, 0),
    }, steal_ticks=3 * hz)
    cpu = procfs.tree_cpu_s(procfs.snapshot(root), 100)
    # the root's reaped children are left out; the daemon's are its workers
    assert cpu["driver"] == pytest.approx(3.0)
    assert cpu["jvm"] == pytest.approx(35.0)
    assert cpu["python_worker"] == pytest.approx(1 + 7 + 1 + 3 + 1)
    assert cpu["other"] == pytest.approx(1.0)
    assert cpu["total"] == pytest.approx(3 + 35 + 13 + 1)
    assert procfs.steal_s(stat) == pytest.approx(3.0)


def test_stat_parsing_survives_parentheses_in_the_command_name(tmp_path):
    hz = procfs.TICKS_PER_S
    root, _ = _fake_proc(tmp_path, {7: (1, "a) (b", "weird", 4 * hz, 0, 0, 0)})
    snap = procfs.snapshot(root)
    assert snap[7].comm == "a) (b" and snap[7].self_ticks == 4 * hz


def test_descendants_ignore_processes_outside_the_tree(tmp_path):
    root, _ = _fake_proc(tmp_path, {
        10: (1, "p", "p", 0, 0, 0, 0), 11: (10, "c", "c", 0, 0, 0, 0), 12: (1, "o", "o", 0, 0, 0, 0),
    })
    assert sorted(p.pid for p in procfs.descendants(procfs.snapshot(root), 10)) == [10, 11]


# -- spans ---------------------------------------------------------------------

class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


class FakeSc:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):
        self.calls.append(("set", group))

    def setLocalProperty(self, key, value):
        self.calls.append(("prop", key, value))


def test_self_time_subtracts_the_union_of_children():
    parent = tracing.Span(0, "step", None, 0.0, 10.0)
    spans = [
        parent,
        tracing.Span(1, "a", 0, 1.0, 4.0),
        tracing.Span(2, "b", 0, 3.0, 5.0),  # overlaps a: union is 1..5
        tracing.Span(3, "c", 0, 9.0, 12.0),  # clipped to the parent at 10
        tracing.Span(4, "grandchild", 1, 1.5, 2.0),  # not parent's child
    ]
    assert tracing.self_time(spans, parent) == pytest.approx(10 - 4 - 1)
    assert tracing.self_time(spans, spans[1]) == pytest.approx(3 - 0.5)
    assert [s.id for s in tracing.subtree(spans, spans[1])] == [1, 4]


def test_tracer_nests_spans_and_restores_job_groups():
    sc = FakeSc()
    tr = tracing.Tracer(sc, clock=FakeClock([0.0, 1.0, 3.0, 4.0]))
    with tr.span("step") as outer:
        with tr.span("train.fit") as inner:
            pass
    assert (outer.start, outer.end, inner.start, inner.end) == (0.0, 4.0, 1.0, 3.0)
    assert inner.parent == outer.id and outer.parent is None
    assert sc.calls[0] == ("set", "0:step")
    assert sc.calls[1] == ("set", "1:train.fit")
    assert sc.calls[2] == ("set", "0:step")  # back to the parent's group
    assert ("prop", "spark.jobGroup.id", None) in sc.calls[3:]


def test_task_metrics_go_to_the_span_of_their_job():
    spans = [tracing.Span(0, "step", None, 100.0, 200.0), tracing.Span(1, "q.stream", 0, 150.0, 160.0)]

    def task(stage, reason="Success", **tm):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason}, "Task Metrics": tm}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 120_000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "0:step"}},
        # a streaming job under its own group: placed by submission time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 155_000,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "run-uuid"}},
        task(0, **{"Executor CPU Time": 2_000_000_000, "Executor Run Time": 3000, "Result Size": 10}),
        task(1, **{"Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 6},
                   "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}, "JVM GC Time": 500,
                   "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}),
        task(2, reason="ExceptionFailure"),
        task(9),  # a stage of no known job
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    tracing.attribute_tasks(events, spans)
    step, q = spans[0].spark, spans[1].spark
    assert step["executor_cpu_s"] == pytest.approx(2.0) and step["executor_run_s"] == pytest.approx(3.0)
    assert step["tasks"] == 1 and step["result_bytes"] == 10
    assert q["tasks"] == 2 and q["task_failures"] == 1 and q["stages"] == 1
    assert q["shuffle_read_bytes"] == 11 and q["shuffle_write_bytes"] == 7
    assert q["spill_bytes"] == 2 and q["gc_s"] == pytest.approx(0.5)
    assert tracing.rollup(spans)["tasks"] == 3


def test_event_log_reader_reads_every_file(tmp_path):
    (tmp_path / "app").mkdir()
    (tmp_path / "app" / "events_1").write_text('{"Event": "A"}\n{"Event": "B"}\n')
    (tmp_path / "app" / "events_2").write_text('{"Event": "C"}\n')
    assert [e["Event"] for e in tracing.read_event_log(str(tmp_path))] == ["A", "B", "C"]


# -- failure counting ----------------------------------------------------------

def test_ledger_counts_raised_and_wrong_results_once():
    led = Ledger()
    with led.op("fine"):
        pass
    with pytest.raises(RuntimeError):
        with led.op("raises"):
            raise RuntimeError("boom")
    with led.op("wrong") as rec:
        pass
    assert led.expect(rec, False, "first reason") is False
    led.expect(rec, False, "second reason")
    assert (led.attempted, led.failed) == (3, 2)
    assert led.error_rate() == pytest.approx(2 / 3)
    assert led.failures() == ["raises: raised RuntimeError: boom", "wrong: first reason"]
    assert Ledger().error_rate() == 0.0


# -- correctness references ----------------------------------------------------

def _naive_ranks(E, L, h, l, t):
    out = np.empty((2, len(h)), dtype=np.int64)
    for i in range(len(h)):
        d_tail = ((E[h[i]] + L[l[i]] - E) ** 2).sum(axis=1)
        d_head = ((E + L[l[i]] - E[t[i]]) ** 2).sum(axis=1)
        out[0, i] = np.sum(d_tail < d_tail[t[i]])
        out[1, i] = np.sum(d_head < d_head[h[i]])
    return out


def test_reference_ranks_match_a_naive_loop():
    rng = np.random.default_rng(3)
    E, L = rng.normal(size=(40, 5)), rng.normal(size=(4, 5))
    h, l, t = rng.integers(0, 40, 30), rng.integers(0, 4, 30), rng.integers(0, 40, 30)
    lo, hi = reference_ranks(E, L, h, l, t)
    naive = _naive_ranks(E, L, h, l, t)
    assert (lo <= naive).all() and (naive <= hi).all()
    assert (hi - lo).max() == 0  # no near-ties in a random model


def test_reference_ranks_widen_on_ties_and_drop_known_candidates():
    E = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 0.0], [3.0, 0.0]])
    L = np.zeros((1, 2))
    h, l, t = np.array([0]), np.array([0]), np.array([2])
    lo, hi = reference_ranks(E, L, h, l, t)
    assert (lo[0, 0], hi[0, 0]) == (1, 2)  # entity 0 is closer; 1 ties with 2
    lo_f, hi_f = reference_ranks(E, L, h, l, t, {(0, 0): np.array([1, 2])}, {})
    assert (lo_f[0, 0], hi_f[0, 0]) == (1, 1)  # the tie is a known triple


def test_metric_bounds_bracket_mean_rank_and_hits():
    lo, hi = np.array([[0, 9], [10, 20]]), np.array([[0, 11], [10, 20]])
    (mr_lo, mr_hi), (h_lo, h_hi) = _metric_bounds(lo, hi)
    assert (mr_lo, mr_hi) == (9.75, 10.25)
    assert (h_lo, h_hi) == (0.5, 0.75)


def test_canonical_orders_columns_rows_and_rounds_doubles():
    a = canonical(["b", "a"], [(0.1 + 0.2, 2), (1.0, 1)])
    b = canonical(["a", "b"], [(1, 1.0), (2, 0.3)])
    assert a == b


# -- the metric list -----------------------------------------------------------

def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
