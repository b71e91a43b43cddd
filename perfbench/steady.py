"""Steadiness check: run every workload repeatedly and report, for each
end-to-end metric, the median, quartiles and spread against its bound.

    python3 perfbench/steady.py

It makes two sets of ten runs of every workload in ``BENCHMARK.json``,
then two traced runs of each. Each run is a fresh ``run.py`` process
with its own seed; workloads are interleaved so that a noisy stretch of
the host hits all of them. The spread is ``(q3 - q1) / median`` with
the quartiles of ``statistics.quantiles(values, n=4)``. ``drift`` is
how much worse the second set's median is than the first's. Traced
runs give the tracing overhead: traced ``trace.step_s`` over untraced
``step_s``. Raw results go to ``.perfbench/steady-<time>.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

SEEDS = 10  # runs per workload per set
SETS = 2
TRACE_RUNS = 2  # traced runs per workload


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def one_run(workload: str, seed: int, seconds: int, traced: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(traced))]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    return result


def summarize(values: list[float], bound: float, better: str) -> dict:
    q1, med, q3 = stats.quartiles(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": stats.spread(values), "bound": bound, "better": better}


def drift(first: dict, second: dict) -> float:
    """How much worse the second median is, as a share of the first."""
    d = (second["median"] - first["median"]) / first["median"]
    return d if first["better"] == "lower" else -d


def print_set(title: str, table: dict[str, dict[str, dict]]) -> None:
    print(f"\n### {title}\n")
    print("| workload | metric | n | median | q1 | q3 | spread | bound | spread/bound |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w, metrics in table.items():
        for m, s in metrics.items():
            print(f"| {w} | {m} | {s['n']} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} "
                  f"| {s['spread']:.3f} | {s['bound']} | {s['spread'] / s['bound']:.2f} |")


def main() -> int:
    bench = load_benchmark()
    workloads = [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    record = {"sets": [], "traced": {}}
    tables = []
    for set_i in range(SETS):
        runs: dict[str, list[dict]] = {w: [] for w in workloads}
        for k in range(SEEDS):
            seed = 1 + set_i * 100 + k
            for w in workloads:
                try:
                    r = one_run(w, seed, bench["run_seconds"], traced=False)
                except (RuntimeError, subprocess.TimeoutExpired) as e:
                    print(f"set {set_i + 1} {w} seed {seed}: FAILED {e}", flush=True)
                    continue
                runs[w].append(r)
                print(f"set {set_i + 1} {w} seed {seed}: wall {r['wall_s']:.1f}s correct={r['correct']} "
                      + " ".join(f"{m}={v['value']:.4g}" for m, v in r["metrics"].items()), flush=True)
        table = {
            w: {m: summarize([r["metrics"][m]["value"] for r in rs], e2e[m]["bound"], e2e[m]["better"])
                for m in e2e}
            for w, rs in runs.items()
        }
        for w, rs in runs.items():
            table[w]["run_wall_s"] = summarize([r["wall_s"] for r in rs], 1.0, "lower")
        tables.append(table)
        record["sets"].append({"runs": runs, "table": table})
        print_set(f"set {set_i + 1}", table)
    print("\n### drift of set 2's median against set 1's (positive = worse)\n")
    print("| workload | metric | drift | bound |")
    print("|---|---|---|---|")
    for w in workloads:
        for m in e2e:
            print(f"| {w} | {m} | {drift(tables[0][w][m], tables[1][w][m]):+.3f} | {e2e[m]['bound']} |")
    print("\n### tracing overhead (traced trace.step_s vs untraced step_s)\n")
    print("| workload | traced runs | traced median | untraced median | overhead |")
    print("|---|---|---|---|---|")
    for w in workloads:
        traced = [one_run(w, 1000 + k, bench["run_seconds"], traced=True) for k in range(TRACE_RUNS)]
        t_med = stats.median([r["metrics"]["trace.step_s"]["value"] for r in traced])
        u_med = tables[-1][w]["step_s"]["median"]
        record["traced"][w] = traced
        print(f"| {w} | {len(traced)} | {t_med:.4g} | {u_med:.4g} | {t_med / u_med - 1:+.3f} |")
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"steady-{int(time.time())}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print(f"\nraw results: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
