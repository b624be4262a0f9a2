"""SparkSession factory tuned for this engine.

Local mode is the test bed (one JVM, N threads); the conf choices are the
ones that matter on a real cluster too:

- AQE on (runtime coalesce / skew-join handling),
- shuffle partitions sized to the parallelism at hand (not the 200 default),
- UTC session timezone (oracle comparisons; the reference writes UTC-adjusted
  timestamptz, SURVEY §1.3),
- Arrow for any pandas interchange (the slow-path UDFs are Arrow-batched).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENV_CPUS = "SPARK_GRAFT_CPUS"


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the host's CPU count."""
    return int(os.environ.get(ENV_CPUS) or os.cpu_count() or 1)


def get_spark(app_name: str = "pg2parquet_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults;
    shuffles get one partition per core."""
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to a session we didn't create.

    The driver harness passes us its own SparkSession; static confs
    (master, memory) are fixed by then, but these still matter.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(default_cpus()))
    except Exception:  # pragma: no cover - conf may be locked by the host
        pass
    return spark
