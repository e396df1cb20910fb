"""SparkSession factory tuned for the target execution profile.

Local testing runs on local[N] (single JVM); the configs below are the ones
that also matter on a real cluster: AQE for runtime re-planning (skew joins,
partition coalescing), Arrow for any Python exchange, UTC session timezone so
timestamp semantics match the DuckDB oracle, and shuffle partitions sized to
the parallelism at hand instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ccdem-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def sql_executions(spark: SparkSession) -> list[tuple[int, str]]:
    """(id, physical plan) of each SQL execution the session's status store
    retains. A frame whose build pins rows (``localCheckpoint``) runs part of
    its plan in the executions started while it is built, not in its own
    plan; select those by id, since the store drops its oldest executions
    beyond ``spark.sql.ui.retainedExecutions``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = []
    while it.hasNext():
        e = it.next()
        out.append((e.executionId(), e.physicalPlanDescription()))
    return out
