"""SparkSession factory with scale-appropriate defaults.

Local testing runs a single JVM (``local[N]``); the configs below are the
ones that matter at cluster scale too: AQE (runtime re-plan + skew-join
splitting), Arrow for the pandas-UDF hot path, shuffle partitions sized to
parallelism instead of the 200 default, UTC so DuckDB oracle comparisons are
timezone-stable. Python workers fork from the package's own daemon
(``spark.python.daemon.module`` = :mod:`.daemon`), which stops pyspark's
per-task ``importlib.invalidate_caches()`` from re-reading the unchanged
pyspark and py4j zip archives on every task. The directory that holds the
package is put on the workers' ``PYTHONPATH``, so the daemon imports
wherever the driver was started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import daemon

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        # Small file splits so a scan of a few MB still parallelizes (a
        # 2,400-row spectra table of 16 files reads as 16 splits of 150
        # rows). The spectrum fit and serve paths size their own tasks, one
        # per core (FeaturePipeline._maybe_rebalance): more splits than
        # cores are coalesced without a shuffle, fewer are round-robined.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "2m")
        .config("spark.python.daemon.module", daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

