"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes Kryo + worker cleanup (reference
``example.py:15-16``, ``test.py:105-108``); in the DataFrame world the
equivalents are AQE, Arrow, and sane shuffle sizing, set once here so
every entry point (tests, bench, driver contract) gets the same plan
environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the test harness (local[32], 128 GiB). On a real
# cluster these are overridden by spark-submit conf; everything below is
# safe at scale: AQE re-plans shuffle partition counts at runtime, so a
# static 32 here does not cap a 1000-executor run (AQE coalesces/splits
# based on runtime stats when spark.sql.adaptive.enabled is true).
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic broadcast-join conversion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / mapInPandas boundary (SURVEY §1.3: the
    # single biggest idiomatic win over the reference's pickled tuples).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp semantics for the DuckDB oracle: parquet
    # stores naive micros; reading them as UTC makes Spark's values
    # bit-identical to DuckDB's.
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: we want permissive casts like the reference's Python.
    "spark.sql.ansi.enabled": "false",
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as int64 nanos and convert in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": "32",
    # bucketed tables (saveAsTable) land here, not in the repo cwd
    "spark.sql.warehouse.dir": "/tmp/spark-graft-warehouse",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Iterative operators (BFS/SSSP/LPA/CC/PageRank) grow the LOGICAL
    # plan multiplicatively per round until their periodic checkpoint
    # truncation; Spark stringifies every executed plan for listener
    # events even with the UI off, and an uncapped render of a deep
    # iterative plan OOMs the driver building one giant string
    # (measured: heap exhaustion inside PlanStringConcat on a 7-round
    # BFS). 2M chars is ~100× the repo's largest gated explain, so
    # plan gates are unaffected.
    "spark.sql.maxPlanStringLength": "2000000",
    # Drops cached zip importers before each Python task, which saves
    # ~0.2 core-s per task on CPython 3.10-3.12 (see _daemon.py).
    # Executors' Python must import this package, as the kernels already do.
    "spark.python.daemon.module": "transe_pyspark_spark._daemon",
    # Spark's generated-code cache is an LRU of 100 classes by default. A
    # loop whose step cycles through more distinct classes than that
    # misses on every lookup, so each step re-runs Janino and re-JITs
    # every class. Measured working sets: <=152 classes over
    # kg_pipeline's two warm-up passes (~130 per step; 122-144 compiles
    # per warm step at 100) and <=242 over query_mix's three. 1000 leaves
    # >=4x headroom; warm steps then compile 0-4 classes.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "transe-pyspark-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
