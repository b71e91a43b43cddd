"""CPU accounting from ``/proc``: the benchmark process and everything
it started (the Spark JVM, the PySpark daemon and its forked workers).

A process's ``utime+stime`` is its own CPU; ``cutime+cstime`` is the
CPU of children it has already reaped. Summing all four over every
live member of the tree therefore counts each worker exactly once,
whether it is still running or has exited and been waited for.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

TICKS_PER_S = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cmdline: str
    self_ticks: int  # utime + stime
    child_ticks: int  # cutime + cstime of reaped children


def _parse_stat(text: str) -> tuple[int, str, int, int]:
    # comm sits in parentheses and may itself contain spaces or ')'
    lpar, rpar = text.index("("), text.rindex(")")
    comm = text[lpar + 1 : rpar]
    fields = text[rpar + 2 :].split()
    # fields[0] is state (field 3 of stat(5)); utime is field 14
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, comm, utime + stime, cutime + cstime


def snapshot(proc_root: str = "/proc") -> dict[int, Proc]:
    """Every process visible under ``proc_root``; processes that exit
    while being read are skipped."""
    out: dict[int, Proc] = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        base = os.path.join(proc_root, name)
        try:
            with open(os.path.join(base, "stat"), encoding="utf-8", errors="replace") as f:
                ppid, comm, own, reaped = _parse_stat(f.read())
            with open(os.path.join(base, "cmdline"), "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode("utf-8", "replace").strip()
        except (FileNotFoundError, ProcessLookupError, ValueError, IndexError):
            continue
        out[int(name)] = Proc(int(name), ppid, comm, cmd, own, reaped)
    return out


def descendants(snap: dict[int, Proc], root: int) -> list[Proc]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for p in snap.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in snap:
            out.append(snap[pid])
        stack.extend(children.get(pid, ()))
    return out


def classify(p: Proc, root: int) -> str:
    if p.pid == root:
        return "driver"
    if p.comm == "java" or " org.apache.spark." in f" {p.cmdline}":
        return "jvm"
    if "pyspark.daemon" in p.cmdline or "pyspark.worker" in p.cmdline:
        return "python_worker"
    return "other"


def tree_cpu_s(snap: dict[int, Proc], root: int) -> dict[str, float]:
    """CPU seconds of the tree under ``root`` by class, plus ``total``.

    The root's own reaped-children CPU is left out: the root only ever
    reaps short helpers (``ps``, the gateway launcher), and the JVM is
    counted live while it runs.
    """
    out = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0, "other": 0.0}
    for p in descendants(snap, root):
        ticks = p.self_ticks if p.pid == root else p.self_ticks + p.child_ticks
        out[classify(p, root)] += ticks / TICKS_PER_S
    out["total"] = sum(out.values())
    return out


def steal_s(stat_path: str = "/proc/stat") -> float:
    """Host-wide steal time so far, in CPU-seconds (``cpu`` line, 8th value)."""
    with open(stat_path, encoding="ascii") as f:
        for line in f:
            if line.startswith("cpu "):
                values = line.split()[1:]
                return int(values[7]) / TICKS_PER_S if len(values) > 7 else 0.0
    return 0.0


def cpu_now(root: int | None = None) -> dict[str, float]:
    return tree_cpu_s(snapshot(), os.getpid() if root is None else root)
