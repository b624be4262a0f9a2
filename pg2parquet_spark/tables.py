"""Test-corpus table loaders.

The driver-generated TPC-H-ish tables (see TESTDATA.md) are plain Parquet —
one file per table. Reading them with ``spark.read.parquet`` gives Catalyst
full pushdown: filters and column pruning reach the scan (verify with
``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Loaded-table memo. spark.read.parquet pays driver-side file listing plus a
# footer read for schema inference on EVERY call; the corpus dirs are
# immutable, so the analyzed DataFrame (a plan, not data) is reused across
# queries within a session. Keyed by applicationId so a stopped/recreated
# session never serves plans bound to a dead SparkContext. Bounded:
# #sessions x #sf_dirs x 10 tables.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _TABLE_MEMO:
        if name == "events":
            _TABLE_MEMO[key] = _events(spark, sf_dir)
        else:
            _TABLE_MEMO[key] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _TABLE_MEMO[key]


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def events_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` read as epoch nanos, rebuilt into an NTZ timestamp; a
    ``ts`` of any other type passes through.

    Some corpus generations ship ts as parquet TIMESTAMP(NANOS). Spark's
    vectorized reader rejects that unless :data:`NANOS_AS_LONG` was set
    before the read, and then yields a long. The corpus has no
    sub-microsecond components, so ns→µs is lossless."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") != "bigint":
        return df
    # integer DIV, not `/`: epoch-nanos ≈ 1.7e18 exceeds double's 2^53
    # exact range, so float division would round the last µs digit
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as timestamp_ntz in every corpus generation: nanos
    through :func:`events_ts`, NTZ µs as read, UTC-adjusted µs cast."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    spark.conf.set(NANOS_AS_LONG, "true")
    df = events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    if isinstance(df.schema["ts"].dataType, TimestampNTZType):
        return df
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin a scan across the cluster ONLY when it cannot fill it.

    The optimization guide's §2.5 "unsplittable input" mitigation, made
    data-adaptive: a single-row-group parquet file yields one split no
    matter what maxPartitionBytes says, capping every per-row stage fused
    onto the scan at one core. When the scan's split count already reaches
    the default parallelism — the 100 TB case, where inputs are thousands
    of files — this is a NO-OP and adds no exchange, so the repartition
    can never become a corpus-wide shuffle at scale. The split probe is a
    driver-side plan inspection (no job runs).

    PRECONDITION (r12 ADVICE): the input must be a scan or a narrow chain
    over one — every current call site is. `df.rdd.getNumPartitions()` on
    a plan that already contains an Exchange would, under AQE, finalize
    query stages and EXECUTE the upstream shuffle during the probe; do not
    pass shuffled DataFrames here."""
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        raise ValueError(
            "spread_scan requires a scan/narrow input; got a plan with an "
            "Exchange — probing it would execute the upstream shuffle"
        )
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so SQL-form operators can refer to tables by name."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
