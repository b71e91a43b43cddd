"""t2-style oracle tests: every declared query with an oracle must
match DuckDB on the sf0.001 fixtures (the driver re-runs the same
comparison at sf0.01). Every query with a plan contract
(``QuerySpec.plan``) must also keep it at this scale — the same check
``scripts/explain_plans.py`` renders into PLANS.md."""

from __future__ import annotations

import pytest

from oracle_harness import compare
from transe_pyspark_spark.plans.queries import REGISTRY

ORACLE_QUERIES = sorted(name for name, spec in REGISTRY.items() if spec.oracle is not None)
ROWS_ONLY_QUERIES = sorted(name for name, spec in REGISTRY.items() if spec.oracle is None)


def _assert_plan_contract(spark, sf_dir, name, df):
    c = REGISTRY[name].plan
    if c is not None:
        frame = c.stage(spark, sf_dir) if c.stage else df
        violations = c.violations(frame)
        assert not violations, f"{name} plan contract: {violations}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    _assert_plan_contract(spark, sf_dir, name, df)
    ok, msg = compare(df, spec.oracle, sf_dir)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    _assert_plan_contract(spark, sf_dir, name, df)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_plan_contract_catches_lost_broadcast(spark, sf_dir):
    """The contract check is not vacuous: with broadcast joins switched
    off, top_revenue_orders' contract reports its missing
    BroadcastHashJoin."""
    spec = REGISTRY["top_revenue_orders"]
    assert spec.plan.violations(spec.fn(spark, sf_dir)) == []
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        violations = spec.plan.violations(spec.fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "missing BroadcastHashJoin" in violations
