"""One benchmark run: one workload, in a fresh process.

    python3 perfbench/run.py --workload kg_pipeline --seed 1 --seconds 10 --trace 0

Set-up (Spark session, inputs made from the seed, warm-up) is timed as
``setup_s``. Then whole steps run until ``--seconds`` have passed (at
least one), each timed for wall clock and for the CPU of the process
tree. Outputs are checked; a wrong result is a failed operation. The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark job groups per span and the event log, and reports the per-layer
metrics instead; its spans are written under ``.perfbench/traces``.
Everything a run writes lives under ``.perfbench/run-*`` in the
checkout and is removed when the run ends.
"""

from __future__ import annotations

import time

T0 = time.time()  # before the heavy imports: set-up is timed from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import procfs  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from ledger import Ledger, Op  # noqa: E402

WORKLOADS = ("kg_pipeline", "query_mix")
MIN_STEPS = 1
#: idle time before each timed step, so that the JVM's background JIT
#: compilations queued by the previous step finish instead of competing
#: with the step for cores
SETTLE_S = 2.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Workspace:
    """Per-run directories for Spark's scratch, warehouse, checkpoints,
    event log and inputs, plus the environment that points Spark and
    its Python workers at them and at the package."""

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}-{int(time.time() * 1000)}")
        for sub in ("tmp", "local", "warehouse", "eventlog", "data"):
            os.makedirs(os.path.join(self.dir, sub))

    def path(self, sub: str) -> str:
        return os.path.join(self.dir, sub)

    def export_env(self) -> None:
        env = os.environ
        env["PYTHONPATH"] = os.pathsep.join(p for p in (self.root, env.get("PYTHONPATH")) if p)
        env["PYSPARK_PYTHON"] = sys.executable
        env["TMPDIR"] = self.path("tmp")
        env["SPARK_LOCAL_DIRS"] = self.path("local")
        env["SPARK_GRAFT_CPUS"] = str(nproc())
        # every JVM, Spark's launcher too: no /tmp/hsperfdata, temp files here
        env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        tempfile.tempdir = self.path("tmp")
        if self.root not in sys.path:
            sys.path.insert(0, self.root)

    def spark_conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


@dataclass
class Step:
    span: tracing.Span
    wall_s: float
    cpu: dict[str, float]
    steal_s: float
    values: dict[str, float]


def make_workload(name: str, spark, run_dir: str, seed: int, tracer, ledger):
    if name == "kg_pipeline":
        from kg import KgPipeline

        return KgPipeline(spark, run_dir, seed, tracer, ledger)
    from qmix import QueryMix

    return QueryMix(spark, run_dir, seed, tracer, ledger)


def settle(spark) -> None:
    """Collect garbage in both heaps, then idle ``SETTLE_S``."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


def measure(workload, seconds: float, tracer: tracing.Tracer, ledger: Ledger) -> list[Step]:
    """Whole steps until ``seconds`` have passed and at least
    ``MIN_STEPS`` were tried. Checks run between steps, untimed."""
    steps: list[Step] = []
    begin, tried = time.perf_counter(), 0
    while tried < MIN_STEPS or time.perf_counter() - begin < seconds:
        tried += 1
        settle(workload.spark)
        cpu0, steal0 = procfs.cpu_now(), procfs.steal_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("step") as span:
                values = workload.step()
        except Exception:  # the op is already failed in the ledger
            traceback.print_exc()
            values = None
        wall = time.perf_counter() - t0
        cpu1, steal1 = procfs.cpu_now(), procfs.steal_s()
        print(f"step {tried}: {wall:.3f} s", file=sys.stderr, flush=True)
        try:
            workload.check()
        except Exception as e:
            traceback.print_exc()
            ledger.ops.append(Op("check", False, f"raised {type(e).__name__}: {e}"))
        if values is not None:
            cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
            steps.append(Step(span, wall, cpu, steal1 - steal0, values))
    return steps


def step_layers(step: Step, spans: list[tracing.Span], workload) -> dict[str, float]:
    """One step's per-layer values: its spans' times by name, the
    workload's own values, process CPU and Spark task metrics."""
    inside = tracing.subtree(spans, step.span)
    by_name: dict[str, float] = {}
    for s in inside:
        if s is not step.span:
            by_name[s.name] = by_name.get(s.name, 0.0) + s.duration
    out = {f"{n}_s": d for n, d in by_name.items()}
    out.update(step.values)
    out.update(workload.derived(step.values, by_name))
    out["proc.driver_cpu_s"] = step.cpu["driver"]
    out["proc.jvm_cpu_s"] = step.cpu["jvm"]
    out["proc.python_worker_cpu_s"] = step.cpu["python_worker"]
    out["proc.steal_s"] = step.steal_s
    for k, v in tracing.rollup(inside).items():
        out[f"spark.{k}"] = v
    out["train.result_bytes"] = tracing.rollup([s for s in inside if s.name == "train.fit"])["result_bytes"]
    return out


def per_layer_metrics(steps, tracer, workload, ledger, session_s) -> dict[str, float]:
    rows = [step_layers(st, tracer.spans, workload) for st in steps]
    out = {m: stats.median([r.get(m, 0.0) for r in rows]) for m in layers.PER_LAYER}
    out.update(workload.setup_values)
    queries = [s.duration for st in steps for s in tracing.subtree(tracer.spans, st.span)
               if s.name.startswith("q.")]
    out["q.p50_s"] = stats.median(queries) if queries else 0.0
    out["q.p90_s"] = stats.tail_percentile(queries, 90)  # None: too few samples
    out["q.samples"] = len(queries)
    out["session.start_s"] = session_s
    out["trace.step_s"] = stats.median([st.wall_s for st in steps])
    out["error_rate"] = ledger.error_rate()
    out["proc.nproc"] = nproc()
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def stop_spark(spark, grace_s: float = 30.0) -> None:
    """Stop Spark, close the JVM gateway and wait until every process
    started under this one (the JVM, the PySpark daemon and its
    workers) has ended; kill what outlives ``grace_s``."""
    from pyspark import SparkContext

    me = os.getpid()
    pids = [p.pid for p in procfs.descendants(procfs.snapshot(), me) if p.pid != me]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + grace_s
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)


def run(args) -> dict:
    ws = Workspace(ROOT)
    spark = None
    try:
        ws.export_env()
        from transe_pyspark_spark.session import get_spark

        tracer, ledger = tracing.Tracer(), Ledger()
        with tracer.span("session.start") as s_span:
            spark = get_spark("perfbench", extra_conf=ws.spark_conf(args.trace))
        if args.trace:
            tracer.sc = spark.sparkContext
        workload = make_workload(args.workload, spark, ws.path("data"), args.seed, tracer, ledger)
        with tracer.span("setup"):
            workload.setup()
        setup_s = time.time() - T0
        warmups = [f"{s.duration:.3f}" for s in tracer.spans if s.name == "warmup"]
        print(f"warm-up passes (s): {' '.join(warmups)}", file=sys.stderr, flush=True)
        steps = measure(workload, args.seconds, tracer, ledger)
        workload.verify()
        if not steps:
            raise RuntimeError("no step completed: " + "; ".join(ledger.failures()[:3]))
        if args.trace:
            spark.stop()  # flushes the event log
            tracing.attribute_tasks(tracing.read_event_log(ws.path("eventlog")), tracer.spans)
            values = per_layer_metrics(steps, tracer, workload, ledger, s_span.duration)
            metrics = {m: {"value": values[m], "unit": u} for m, u in layers.PER_LAYER.items()}
            write_trace(args, tracer, values)
        else:
            values = {
                "setup_s": setup_s,
                "step_s": stats.median([st.wall_s for st in steps]),
                "cpu_s_per_step": stats.median([st.cpu["total"] for st in steps]),
            }
            metrics = {m: {"value": values[m], "unit": u} for m, u in layers.END_TO_END.items()}
        for f in ledger.failures():
            print(f"FAILED {f}", file=sys.stderr)
        return {"correct": ledger.failed == 0, "attempted": ledger.attempted,
                "failed": ledger.failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        ws.close()


def write_trace(args, tracer: tracing.Tracer, values: dict) -> None:
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    p90 = values["q.p90_s"]
    dropped = dict(layers.DROPPED)
    if p90 is None:
        dropped["q.p90_s"] = (f"{values['q.samples']} query samples; fewer than "
                              f"{stats.MIN_TAIL_SAMPLES} lie beyond p90")
    report = {"workload": args.workload, "seed": args.seed, "layers": values,
              "q.p90_s": p90, "dropped": dropped, "spans": tracer.to_json()}
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"trace": path, "q.p90_s": p90, "dropped": dropped}))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    result = run(parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
