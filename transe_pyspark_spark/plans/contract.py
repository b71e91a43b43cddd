"""Physical-plan contracts: the plan properties a registry query must
keep at scale, declared next to its oracle (``QuerySpec.plan``).

A contract is data — must-contain and forbidden plan markers, an
Exchange budget, a parquet-scan budget, an optional predicate for
properties that are not markers, an optional builder for the
pre-checkpoint frame of operators whose returned plan is an opaque
checkpoint, and whether the plan must keep its shape on the sf1
fixture. ``tests/test_oracle.py`` checks every contract at fixture
scale; ``scripts/explain_plans.py`` renders them into PLANS.md.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def explain_text(df: DataFrame) -> str:
    """``df.explain("formatted")`` captured as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_nodes(plan: str, node: str) -> int:
    """Physical nodes named ``node`` in a formatted explain. Each node
    is printed twice (tree line and detail header); only the detail
    header starts with its number, ``(N) <node>``."""
    pat = re.compile(rf"\(\d+\) {re.escape(node)}\b")
    return sum(1 for line in plan.splitlines() if pat.match(line.strip()))


@dataclass(frozen=True)
class PlanContract:
    why: str
    markers: tuple[str, ...] = ()
    forbidden: tuple[str, ...] = ()
    max_exchanges: int | None = None
    max_scans: int | None = None
    #: ``(frame, plan text) → violations`` for properties markers can't state
    check: Callable[[DataFrame, str], list[str]] | None = None
    #: ``(spark, sf_dir) → frame`` checked instead of the registered face
    stage: Callable[[SparkSession, str], DataFrame] | None = None
    sf1: bool = False

    def gates(self, df: DataFrame, plan: str, at_sf1: bool = False) -> dict[str, list[str]]:
        """Violations per declared gate (empty list = the gate holds).
        The sf1 pass re-checks the markers only: budgets are pinned at
        the fixture scale the contract was measured on."""
        out: dict[str, list[str]] = {}
        if self.markers:
            out["markers"] = [f"missing {m}" for m in self.markers if m not in plan]
        if self.forbidden:
            out["forbidden"] = [f"contains {m}" for m in self.forbidden if m in plan]
        if at_sf1:
            return out
        for gate, node, limit in (
            ("exchanges", "Exchange", self.max_exchanges),
            ("scans", "Scan parquet", self.max_scans),
        ):
            if limit is not None:
                n = count_nodes(plan, node)
                out[gate] = [f"{n} {node} nodes > {limit}"] if n > limit else []
        if self.check is not None:
            out["check"] = self.check(df, plan)
        return out

    def violations(self, df: DataFrame) -> list[str]:
        return [v for vs in self.gates(df, explain_text(df)).values() for v in vs]
