"""Spans around calls into the package, and Spark task metrics per span.

A traced run wraps every timed call in a span. Each span sets its own
Spark job group, so the event log ties every job to the span that
submitted it. Spans are kept in memory and written out when the run
ends. Jobs that run under a group the benchmark did not set (Structured
Streaming sets its own) are given to the innermost span that was open
when they were submitted.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: TaskEnd metric → (output name, scale to the output unit)
_TASK_METRICS = {
    "Executor CPU Time": ("executor_cpu_s", 1e-9),
    "Executor Run Time": ("executor_run_s", 1e-3),
    "JVM GC Time": ("gc_s", 1e-3),
    "Result Size": ("result_bytes", 1),
    # the serialized size of spilled data; "Memory Bytes Spilled" is the
    # same data's deserialized size, so adding both would count it twice
    "Disk Bytes Spilled": ("spill_bytes", 1),
}
SPARK_METRICS = (
    "executor_cpu_s", "executor_run_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "result_bytes", "stages", "tasks",
    "task_failures",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    spark: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. With ``sc`` set, each span also sets the Spark
    job group ``"<span id>:<name>"`` and restores its parent's on exit."""

    def __init__(self, sc=None, clock=time.time):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{span.id}:{span.name}", span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.clock())
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._open.pop()
            self._set_group(parent)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
             "end": s.end, "self_s": self_time(self.spans, s), "spark": s.spark}
            for s in self.spans
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[Span], span: Span) -> float:
    """The span's duration minus the part of it its children cover."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans if c.parent == span.id
    ]
    return span.duration - _union_length([(lo, hi) for lo, hi in kids if hi > lo])


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed) event-log file under
    ``log_dir``; rolling logs are read in file order."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p))
    events = []
    for p in files:
        with open(p, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.startswith("{"))
    return events


def attribute_tasks(events: list[dict], spans: list[Span]) -> None:
    """Sum TaskEnd metrics into ``span.spark`` for the span that ran
    each task's job."""
    by_id = {s.id: s for s in spans}
    stage_span: dict[int, Span] = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
        head = group.split(":", 1)[0]
        span = by_id.get(int(head)) if head.isdigit() and ":" in group else None
        if span is None:
            span = innermost_at(spans, e.get("Submission Time", 0) / 1000.0)
        if span is None:
            continue
        for sid in e.get("Stage IDs", []):
            stage_span[sid] = span
    for s in spans:
        s.spark = {m: 0.0 for m in SPARK_METRICS}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            span = stage_span.get(e["Stage Info"]["Stage ID"])
            if span is not None:
                span.spark["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(e.get("Stage ID"))
            if span is None:
                continue
            span.spark["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                span.spark["task_failures"] += 1
            tm = e.get("Task Metrics") or {}
            for key, (out, scale) in _TASK_METRICS.items():
                span.spark[out] += tm.get(key, 0) * scale
            sr = tm.get("Shuffle Read Metrics") or {}
            span.spark["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            span.spark["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)


def innermost_at(spans: list[Span], t: float) -> Span | None:
    """The latest-started span that was open at time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= (s.end or float("inf")) and (best is None or s.start >= best.start):
            best = s
    return best


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    inside, out = {root.id}, [root]
    for s in spans:  # parents are recorded before their children
        if s.parent in inside:
            inside.add(s.id)
            out.append(s)
    return out


def rollup(spans: list[Span]) -> dict[str, float]:
    """Spark metrics summed over ``spans``."""
    out = {m: 0.0 for m in SPARK_METRICS}
    for s in spans:
        for m in SPARK_METRICS:
            out[m] += s.spark.get(m, 0.0)
    return out
