"""SparkSession factory with scale-appropriate defaults.

Local testing runs a single JVM (``local[N]``); the configs below are the
ones that matter at cluster scale too: AQE (runtime re-plan + skew-join
splitting), Arrow for the pandas-UDF hot path, shuffle partitions sized to
parallelism instead of the 200 default, UTC so DuckDB oracle comparisons are
timezone-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app_name: str = "msi-spark", parallelism: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS",
                                         os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 4)
    builder = (
        SparkSession.builder
        .master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "800")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # CPU-bound Arrow-UDF stages want file splits sized to CORES, not
        # bytes: at ~2 ms/row a default 128 MB split is a 20-minute task.
        # 4 MB splits ≈ 500–2000 rows/task here; on a production cluster with
        # the same per-row cost, 8–16 MB is the same rows-per-task ballpark.
        # Split-by-bytes also lets the serve path stay SHUFFLE-FREE (scan →
        # one mapInArrow) instead of round-robin repartitioning the full
        # token payload.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "2m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

