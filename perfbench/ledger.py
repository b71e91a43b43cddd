"""Counting operations and failures.

An operation is one timed call into the package. It fails when it
raises or when a check on its output does not hold. A failed operation
stays failed: nothing is retried or dropped.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Op:
    name: str
    ok: bool = True
    why: str = ""


class Ledger:
    def __init__(self):
        self.ops: list[Op] = []

    @contextmanager
    def op(self, name: str):
        rec = Op(name)
        self.ops.append(rec)
        try:
            yield rec
        except Exception as e:
            self.fail(rec, f"raised {type(e).__name__}: {e}")
            raise

    def expect(self, rec: Op, cond: bool, why: str) -> bool:
        """Mark ``rec`` failed unless ``cond``; returns ``cond``."""
        if not cond:
            self.fail(rec, why)
        return bool(cond)

    @staticmethod
    def fail(rec: Op, why: str) -> None:
        if rec.ok:
            rec.ok, rec.why = False, why

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)

    def error_rate(self) -> float:
        return self.failed / self.attempted if self.ops else 0.0

    def failures(self) -> list[str]:
        return [f"{o.name}: {o.why}" for o in self.ops if not o.ok]
