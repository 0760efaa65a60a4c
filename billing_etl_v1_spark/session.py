"""SparkSession factory.

Runs on ``local[$SPARK_GRAFT_CPUS]``, defaulting to the cores this process
may use (its CPU affinity), so a cron on a small box is not oversubscribed.
Every other config here is chosen for the 100 TB / 1000-executor posture:

- AQE (runtime shuffle-partition coalescing + skew-join splitting) is
  Spark's default, so nothing sets it; it replaces the reference's
  hand-coded heavy-account chunking (reference main.py:86-104).
- Arrow enabled for the few pandas-interop paths (multimodal UDFs).

A caller changes any of these (the shuffle width included) through
``get_spark(extra_conf=...)``, which is applied after the defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# runtime-settable confs the engine's results depend on. get_spark sets them
# at build time; readers.harden_session re-applies them so queries also
# behave correctly under a caller-provided vanilla session (the driver
# harness builds its own SparkSession)
REQUIRED_CONF = {
    # deterministic epoch math in events operators + oracle agreement
    "spark.sql.session.timeZone": "UTC",
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
    # type — read as long and convert (readers.load_table), truncating to
    # micros exactly like DuckDB's ns->us coercion
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # keep partition column types as written ('199506' stays a string
    # invoice_month on read-back, not an int)
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the usable cores."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "billing-etl-v1-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle width = cores: measured equal-or-better than wider
        # initialPartitionNum settings (64/128/256) at sf0.1 AND at a 4x
        # replicated fact on this single-JVM box — task-launch overhead
        # dominates before per-partition hash pressure does. On a real
        # multi-executor cluster the equivalent knob is initialPartitionNum
        # ≈ 2-4x total cores with AQE coalescing down; revisit there.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**REQUIRED_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
