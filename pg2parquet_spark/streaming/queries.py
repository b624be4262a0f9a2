"""Structured Streaming operators (beyond-reference surface — the reference
is batch-only, SURVEY §2.B "Streaming: absent").

Every query drives a real streaming pipeline over a parquet landing dir
via `readStream`, run to completion by `_run_stream` (into a memory sink,
or foreachBatch), and returns what the sink holds. Their DuckDB oracles
are the *batch* equivalents, so the correctness gate proves streaming
results == batch results on the same input — the property that matters
when the same pipeline later points at Kafka.

Scale notes: the hourly aggregate is a classic watermark + tumbling-window
shape (state per window×type is bounded); session_window keeps per-user
session state, bounded by the watermark horizon. Memory sink is test-only;
production sinks swap in via writeStream.format(...) without touching the
transformation.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg2parquet_spark.registry import register
from pg2parquet_spark.tables import NANOS_AS_LONG, events_ts, table
from pg2parquet_spark.tmpdirs import memo_tmpdir

_counter = itertools.count()

# Stateful-operator partition count, set at each streaming query's FIRST
# start (Spark bakes it into the checkpoint): the right number tracks STATE
# VOLUME, not CPU count. Every shuffle partition of a stateful operator
# carries a state store whose per-micro-batch maintenance (snapshot, commit,
# metadata) is pure overhead when the state is small — measured on the
# stream-stream join at sf0.1: 32 partitions 6.5 s, 8 partitions 2.6 s,
# identical results. A 100 TB deployment raises this with state size
# (RocksDB store, ~100-200 MB of state per partition), which is exactly why
# it is a dial here and not an inherited session constant.
_STATE_PARTITIONS = 8


class _state_partitions:
    """Scoped spark.sql.shuffle.partitions override for a streaming start;
    restores the session value even when the stream errors."""

    def __init__(self, spark: SparkSession, n: int = _STATE_PARTITIONS):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of tables._events: both corpus generations (ts as
    nanos-long or as a µs timestamp) go through tables.events_ts."""
    spark.conf.set(NANOS_AS_LONG, "true")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    # FileStreamSource requires a directory; expose the single fixture file
    # through a temp dir (in production this is the landing directory/Kafka).
    # Memoized per sf_dir — one symlink dir per corpus per process, not one
    # per invocation (r6 review: /tmp churn on every selfcheck pass).
    stream_dir, _ = memo_tmpdir(
        "events_stream",
        sf_dir,
        populate=lambda d: os.symlink(
            f"{sf_dir}/events.parquet", f"{d}/events.parquet"
        ),
    )
    stream = spark.readStream.schema(static.schema).parquet(stream_dir)
    # watermarks require TIMESTAMP (LTZ); session TZ is pinned UTC so values
    # match the batch NTZ view — outputs cast back to NTZ for the oracle
    return events_ts(stream).withColumn("ts", F.col("ts").cast("timestamp"))


def _run_stream(
    df: DataFrame, prefix: str = "", mode: str = "complete", foreach_batch=None
) -> DataFrame | None:
    """The module's one stream run: start ``df``'s query with
    `_state_partitions`, process everything available, stop it. The sink is
    a fresh memory table ``<prefix>_<n>`` in output ``mode``, which is
    returned, or with ``foreach_batch`` that function per micro-batch."""
    name = None if foreach_batch else f"{prefix}_{next(_counter)}"
    writer = df.writeStream
    if name is None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        writer = writer.outputMode(mode).format("memory").queryName(name)
    with _state_partitions(df.sparkSession):
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return name and df.sparkSession.table(name)


@register(
    "stream_events_hourly",
    oracle="""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    doc="Streaming tumbling-window (1h) aggregation with watermark, run to completion on "
    "the parquet-backed stream; oracle is the batch equivalent — streaming == batch.",
)
def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    return _run_stream(agg, "stream_hourly").select(
        F.col("w.start").cast("timestamp_ntz").alias("hour"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "stream_sessionize",
    oracle="""
WITH eus AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, ts FROM events
), flagged AS (
  SELECT user_id, event_id,
         CASE WHEN LAG(us) OVER w IS NULL
              OR us - LAG(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM eus
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
""",
    doc="Stateful streaming sessionization via session_window(ts, 30 min); oracle is the "
    "batch lag-based sessionizer — the two independent definitions must agree.",
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    sessions = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events_in_session"))
    )
    return (
        _run_stream(sessions, "stream_sessions")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events_in_session").cast("bigint").alias("n_events"),
        )
    )


@register(
    "stream_stateful_user_stats",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY user_id
""",
    doc="Custom stateful streaming operator via applyInPandasWithState: explicit "
    "per-user state (count + integer-cents sum, exact) updated per Arrow batch, "
    "update output mode. Oracle is the batch aggregate — explicit state must "
    "agree with the declarative groupBy. At scale state lives in the state "
    "store keyed by user_id (the shuffle key); integer cents avoid float "
    "accumulation-order drift.",
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    ev = _events_stream(spark, sf_dir).select("user_id", "value")

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    agg = ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    # update mode may emit a row per micro-batch; keep the final state per user
    latest = _run_stream(agg, "stream_stateful", "update")
    return (
        latest.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_cents").alias("total_cents"),
        )
    )


@register(
    "stream_click_purchase_join",
    oracle="""
SELECT c.user_id, COUNT(*) AS n_pairs
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
GROUP BY c.user_id
""",
    doc="STREAM-STREAM inner join: clicks joined to purchases by the same "
    "user within 30 minutes, both sides watermarked (1 h) so the join state "
    "is bounded by the watermark horizon — Spark drops a buffered click "
    "once no qualifying purchase can still arrive. The time-range predicate "
    "is what makes state finite; user_id is the shuffle key. Pairs land in "
    "the sink in append mode; the per-user count is a batch aggregate over "
    "the sink (same post-agg pattern as stream_sessionize). Oracle is the "
    "batch range join — streaming must produce exactly the batch pairs.",
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("user_id")  # the post-agg needs only the key; the memory sink
    # materializes every pair row on the driver, so shipping one BIGINT per
    # pair instead of (user, 2 ts, join dup key) cuts sink volume ~4x
    return (
        _run_stream(pairs, "stream_cpjoin", "append")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "stream_dedup_exact",
    oracle="""
WITH normed AS (
  SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash,
         doc_id
  FROM documents
)
SELECT COUNT(DISTINCT content_hash) AS n_unique, COUNT(*) AS n_docs
FROM normed
""",
    doc="Streaming exact dedup: dropDuplicates on the content hash over a "
    "parquet-backed stream (state = one hash per distinct doc, the shape "
    "used for online ingestion dedup); oracle is the batch DISTINCT count — "
    "streaming must converge to exactly the batch answer.",
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream_dir, _ = memo_tmpdir(
        "docs_stream",
        sf_dir,
        populate=lambda d: os.symlink(
            f"{sf_dir}/documents.parquet", f"{d}/documents.parquet"
        ),
    )
    stream = spark.readStream.schema(docs_schema).parquet(stream_dir)
    hashed = stream.select(
        F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")).alias(
            "content_hash"
        )
    )
    uniq = hashed.dropDuplicates(["content_hash"]).agg(
        F.count(F.lit(1)).alias("n_unique")
    )
    got = _run_stream(uniq, "stream_dedup")
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    return got.select(
        "n_unique", F.lit(n_docs).cast("bigint").alias("n_docs")
    )


@register(
    "stream_late_data",
    oracle="""
WITH p AS (SELECT max(ts) AS mx FROM events)
SELECT date_trunc('hour', e.ts) AS window_start, e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e, p
WHERE NOT (e.event_id % 7 = 0 AND e.ts < p.mx - INTERVAL 2 HOUR)
GROUP BY 1, 2, p.mx
HAVING date_trunc('hour', e.ts) + INTERVAL 1 HOUR <= p.mx - INTERVAL 30 MINUTE
""",
    doc="Watermark LATE-DATA semantics, end to end: the event stream replays "
    "as three real micro-batches (maxFilesPerTrigger=1, file mtimes pin the "
    "order) — (1) everything except the newest hour and a sprinkle of "
    "withheld rows (event_id % 7, more than 2 h old), (2) the newest hour, "
    "which advances the watermark to max(ts) - 30 min and finalizes every "
    "closed window, (3) the withheld rows, now LATE: their windows were "
    "already emitted, so Spark MUST drop all of them (append mode cannot "
    "revise an emitted window). Three batches matter: Spark filters late "
    "rows against the PREVIOUS batch's eviction watermark — a row is only "
    "dropped once its window has actually been finalized, which takes a "
    "batch boundary after the watermark-raising data. The oracle states the "
    "resulting contract in batch SQL: aggregate all non-withheld rows over "
    "windows closed by the final watermark; the late rows contribute "
    "NOTHING. This is the bounded-state / no-double-emit guarantee that "
    "lets the same pipeline point at an unbounded Kafka topic.",
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts")).collect()[0][0]
    newest = F.col("ts") > F.lit(mx) - F.expr("INTERVAL 1 HOUR")
    late = (F.col("event_id") % 7 == 0) & (
        F.col("ts") < F.lit(mx) - F.expr("INTERVAL 2 HOURS")
    )
    # the 3-batch landing dir is deterministic per corpus: build it once per
    # process (memoized), and reap the staging scratch after the move
    def _build_batches(stream_dir: str) -> None:
        stage_dir = tempfile.mkdtemp(prefix="events_late_stage_")
        batches = ((1, ev.filter(~newest & ~late)), (2, ev.filter(newest)), (3, ev.filter(late)))
        for i, part in batches:
            d = f"{stage_dir}/b{i}"
            part.coalesce(1).write.mode("overwrite").parquet(d)
            dst = f"{stream_dir}/batch{i}.parquet"
            shutil.move(glob.glob(f"{d}/part-*.parquet")[0], dst)
            os.utime(dst, (1000 * i, 1000 * i))
        shutil.rmtree(stage_dir, ignore_errors=True)

    stream_dir, _ = memo_tmpdir("events_late", sf_dir, populate=_build_batches)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    return _run_stream(agg, "stream_late", "append").select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "stream_static_enrich",
    oracle="""
SELECT c.c_mktsegment AS segment, e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
    doc="Stream-STATIC dimension enrichment — the remaining structured-"
    "streaming join shape (stream-stream is stream_click_purchase_join): "
    "the event stream joins a static customer dimension, broadcast so "
    "every micro-batch probes a local hash map with NO shuffle and no "
    "state store (a static side needs no watermark — it is complete by "
    "definition), then aggregates per (segment, event_type). Oracle is "
    "the batch join+agg — streaming == batch. At scale the dimension "
    "refresh is a re-broadcast per restart, the standard Kafka-enrichment "
    "deployment.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy(
        F.col("c_mktsegment").alias("segment"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    return _run_stream(agg, "stream_enrich")


@register(
    "stream_sliding_windows",
    oracle="""
WITH e AS (
  SELECT epoch_us(ts) AS us, user_id FROM events WHERE event_type = 'click'
),
x AS (
  SELECT make_timestamp(((us // 300000000) - j) * 300000000) AS win_start, user_id
  FROM e, (SELECT unnest(range(0, 3)) AS j)
)
SELECT win_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS sum_uid
FROM x GROUP BY win_start
""",
    doc="Streaming SLIDING windows (15 min / 5 min slide) with watermark — "
    "the overlapping-window twin of batch q_events_sliding_windows, run "
    "through a real writeStream to completion: every event feeds exactly 3 "
    "window states, state is bounded by the watermark horizon × 3 "
    "overlapping windows, and streaming == batch is the oracle contract "
    "(the oracle derives window assignment arithmetically). sum(user_id) "
    "is the exact-integer per-window checksum (distinct aggregates are "
    "unsupported in streaming aggregation; the batch twin carries the "
    "distinct-user count).",
)
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_id").alias("sum_uid"),
        )
    )
    return _run_stream(agg, "stream_sliding").select(
        F.col("w.start").cast("timestamp_ntz").alias("win_start"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_uid").cast("bigint").alias("sum_uid"),
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
""",
    doc="BOUNDED-STATE streaming dedup via dropDuplicatesWithinWatermark: "
    "the ingest stream is unioned with itself (at-least-once delivery "
    "emulation — every event arrives exactly twice) and deduped on "
    "event_id with a 1 h watermark, so the dedup state holds only keys "
    "younger than the horizon — unlike plain dropDuplicates, whose state "
    "grows with ALL history and eventually OOMs a forever-running job. "
    "The oracle is the clean batch per-type count: the stream must drop "
    "every injected duplicate and nothing else. This is the third "
    "distinct streaming-state surface (window state, join state, and now "
    "TTL'd dedup state).",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    doubled = ev.unionAll(ev)
    dd = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        _run_stream(dd, "stream_ddww", "append")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


# ------------------------------------------------- foreachBatch sink path --
def _events_stream_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events as a stream that arrives in MULTIPLE micro-batches: the fixture
    is re-written once per sf_dir (memoized, like the evolved-schema dir)
    into 3 parquet files keyed by user_id % 3, and the stream reads them
    with maxFilesPerTrigger=1 — three real micro-batches with disjoint
    rows, unlike the single-file fixture whose whole corpus lands in one
    batch. ts is normalized through tables.table, so the rewritten files
    carry a plain µs timestamp."""
    def build(out: str) -> None:
        ev = table(spark, sf_dir, "events")
        ev.repartition(3, F.col("user_id") % 3).write.mode("overwrite").parquet(out)

    out, _ = memo_tmpdir("events_mb", sf_dir, populate=build)
    schema = spark.read.parquet(out).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )


@register(
    "stream_foreachbatch_partials",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
""",
    doc="The PRODUCTION sink pattern — foreachBatch: each micro-batch (the "
    "fixture genuinely delivers three, maxFilesPerTrigger=1 over a 3-file "
    "landing dir) is aggregated to per-user partials and APPENDED to a "
    "parquet table stamped with its deterministic batch_id (idempotent "
    "under retry: a replayed batch overwrites its own stamp via dynamic "
    "partition overwrite); the final per-user totals FOLD THE PARTIALS — "
    "count and integer-cents sums are mergeable, so the merge never "
    "rescans raw events. Oracle is the clean batch aggregate: partials "
    "folded across batch boundaries must equal one-shot aggregation "
    "exactly (integer cents — no float accumulation drift).",
)
def stream_foreachbatch_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream_multibatch(spark, sf_dir)
    # the sink dir is memoized (no per-invocation mkdtemp) but must start
    # EMPTY every run — the stream appends batch-stamped partials, and a
    # second invocation folding two runs' partials would double every total
    base, _ = memo_tmpdir("fb_partials", sf_dir)
    sink_dir = base + "/partials"
    shutil.rmtree(sink_dir, ignore_errors=True)

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
                    "total_cents"
                ),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(sink_dir)
        )

    _run_stream(ev, foreach_batch=write_partials)
    partials = spark.read.parquet(sink_dir)
    return partials.groupBy("user_id").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("total_cents").cast("bigint").alias("total_cents"),
    )


@register(
    "stream_left_outer_join",
    oracle="""
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
m AS (
  SELECT c.user_id, c.ts, COUNT(p.ts) AS n
  FROM c LEFT JOIN p
    ON p.user_id = c.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
  GROUP BY 1, 2
),
wm AS (
  SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
         - INTERVAL '1 hour' AS w
)
SELECT user_id,
       CAST(SUM(n) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN n = 0 AND ts + INTERVAL '30 minutes' < (SELECT w FROM wm)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_expired_unmatched
FROM m GROUP BY user_id
HAVING SUM(n) > 0
    OR SUM(CASE WHEN n = 0 AND ts + INTERVAL '30 minutes' < (SELECT w FROM wm)
                THEN 1 ELSE 0 END) > 0
""",
    doc="STREAM-STREAM LEFT OUTER join: clicks left-joined to purchases of "
    "the same user within 30 minutes. The outer semantics are the whole "
    "point: a click emits its null-side row ONLY when the global watermark "
    "(min over both sides of max-event-time − 1 h) passes click_ts + 30 min "
    "— before that the row can still match and stays in state. The oracle "
    "mirrors that eviction rule EXACTLY (the wm CTE), so unmatched clicks "
    "inside the final watermark horizon are correctly reported as still "
    "buffered, not as nulls — verified: at sf0.01 1981 of 1983 unmatched "
    "clicks expire, 2 remain in state. A user whose EVERY click is "
    "still-buffered-unmatched emits no sink row at all, so the oracle's "
    "HAVING drops those users rather than fabricating a (0,0) row the "
    "stream never produced (review finding, r5). State is bounded by the "
    "watermark horizon; user_id is the shuffle key; sink receives one row "
    "per click (matched or expired), aggregated per user post-sink.",
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    ).select("user_id", (F.col("purchase_ts").isNull()).alias("expired"))
    return (
        _run_stream(pairs, "stream_louter", "append")
        .groupBy("user_id")
        .agg(
            F.sum((~F.col("expired")).cast("bigint")).cast("bigint").alias("n_pairs"),
            F.sum(F.col("expired").cast("bigint"))
            .cast("bigint")
            .alias("n_expired_unmatched"),
        )
    )


def _ivf_assign_oracle() -> str:
    from pg2parquet_spark.operators.similarity import (
        EMB_DIM,
        _centroid_cte,
        dot_sql,
    )

    return f"""
WITH cent AS ({_centroid_cte()}),
assign AS (
  SELECT e.vec_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {dot_sql('e.embedding', 'c.cemb', EMB_DIM, False)} DESC, c.cid) AS rn
  FROM embeddings e CROSS JOIN cent c
)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_assigned
FROM assign WHERE rn = 1 GROUP BY cid
"""


@register(
    "stream_ivf_assign",
    oracle=_ivf_assign_oracle(),
    doc="Streaming IVF index ingest — the incremental-maintenance path of "
    "ann_ivf_probe's inverted lists: new vectors stream in and each is "
    "assigned to its nearest centroid, with per-list ingest counters as the "
    "running output (the dial a 100 TB rollout watches next to "
    "ann_ivf_balance_audit's batch view). The SCALE SHAPE is the point: the "
    "bounded centroid model is COMPILED INTO the map expression (an "
    "argmax over k struct(dot, -cid) terms — the 'broadcast the model to "
    "every ingest task' pattern), so assignment is pure map work with NO "
    "stream-static join and no per-vector state; the only stateful operator "
    "is a k-key count aggregate (complete mode, state bounded by the "
    "centroid count, not the stream). Dot products fold left-assoc over "
    "DOUBLE exactly like the batch arm, so the argmax — and therefore every "
    "count — is bit-identical to the batch oracle: streaming == batch.",
)
def stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg2parquet_spark.operators.similarity import (
        CENTROID_FILTER,
        _N_CENTROIDS,
        dot_col,
    )

    static = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    stream_dir, _ = memo_tmpdir(
        "emb_stream",
        sf_dir,
        populate=lambda d: os.symlink(
            f"{sf_dir}/embeddings.parquet", f"{d}/embeddings.parquet"
        ),
    )
    # the centroid model: k rows collected once at stream start (bounded by
    # contract, exactly like the ANN query-side collect) and baked into the
    # assignment expression — a production ingest job refreshes this by
    # restarting the stream on a new model version
    cents = (
        static.filter(F.expr(CENTROID_FILTER))
        .orderBy("vec_id")
        .limit(_N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    )
    stream = spark.readStream.schema(static.schema).parquet(stream_dir)
    choices = [
        F.struct(
            dot_col(
                "embedding", F.array(*[F.lit(float(x)) for x in r.embedding])
            ).alias("d"),
            F.lit(-r.vec_id).alias("negcid"),
        )
        for r in cents
    ]
    best = F.array_max(F.array(*choices))
    assigned = stream.select(
        (-best.getField("negcid")).cast("bigint").alias("cid")
    )
    agg = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned")
    )
    return _run_stream(agg, "stream_ivf").select(
        "cid", F.col("n_assigned").cast("bigint").alias("n_assigned")
    )


# Skew verdict gate for the streaming ingest counters: an ingest where the
# hottest inverted list holds more than _IVF_SKEW_FACTOR× its fair share
# (max_list · n_lists > factor · total) is flagged. Integer comparison so
# the verdict is oracle-exact — same discipline as the scorecard's
# capped-near-dup flip (dedup.py) and dedup_containment_ngrams' 10·c ≥ 9·n.
_IVF_SKEW_FACTOR = 2


def _ivf_balance_guard_oracle() -> str:
    # compose the assign oracle as a subquery (r8 review: duplicating its
    # cent/assign CTE chain here meant a tie-break or centroid change had
    # to be edited twice or the guard silently diverged from the very
    # assignment it gates)
    return f"""
WITH ls AS ({_ivf_assign_oracle()})
SELECT CAST(COUNT(*) AS BIGINT) AS n_lists,
       CAST(SUM(n_assigned) AS BIGINT) AS n_ingested,
       CAST(MAX(n_assigned) AS BIGINT) AS max_list,
       CAST(SUM(n_assigned) AS DOUBLE) / NULLIF(COUNT(*), 0) AS avg_list,
       CAST(MAX(n_assigned) * COUNT(*) AS DOUBLE) / NULLIF(SUM(n_assigned), 0) AS imbalance,
       CASE WHEN MAX(n_assigned) * COUNT(*) > {_IVF_SKEW_FACTOR} * SUM(n_assigned)
            THEN 'skewed_ingest' ELSE 'balanced' END AS verdict
FROM ls
"""


@register(
    "stream_ivf_balance_guard",
    oracle=_ivf_balance_guard_oracle(),
    doc="STREAM-SIDE skew observability for the IVF ingest (r7 verdict task "
    "#6): folds stream_ivf_assign's per-list ingest counters into "
    "ann_ivf_balance_audit's skew metrics — list count, ingest total, "
    "hottest list, imbalance = max_list/avg_list — plus an in-query VERDICT "
    "('skewed_ingest' when the hottest list exceeds "
    f"{_IVF_SKEW_FACTOR}x its fair share, integer-compared so both engines "
    "agree exactly). The scorecard<->bucket-audit contract applied to the "
    "vector channel: a skewed streaming ingest is flagged by the query "
    "itself, not by a human reading counters — at 100 TB the inverted-list "
    "layout IS the partition layout, and this row is what pages the rollout "
    "before the hot list becomes every query batch's straggler. Plan: the "
    "streaming assignment (bounded k-centroid model compiled into the map "
    "expression, k-key complete-mode state) plus one 1-row fold over the "
    "k-row counter table; the fold is bounded by the centroid count at any "
    "corpus size. Streaming == batch bit-exactly (stream_ivf_assign's "
    "contract), so the batch oracle gates the streaming result.",
)
def stream_ivf_balance_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = stream_ivf_assign(spark, sf_dir)
    return counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.sum("n_assigned").cast("bigint").alias("n_ingested"),
        F.max("n_assigned").cast("bigint").alias("max_list"),
        # NULLIF'd denominators on BOTH sides (r8 ADVICE): on an empty
        # ingest Spark's non-ANSI Divide returns NULL while DuckDB's IEEE
        # float mode can yield NaN/inf — NULLIF pins the degenerate case to
        # NULL in both engines.
        (
            F.sum("n_assigned").cast("double")
            / F.nullif(F.count(F.lit(1)), F.lit(0))
        ).alias("avg_list"),
        (
            (F.max("n_assigned") * F.count(F.lit(1))).cast("double")
            / F.nullif(F.sum("n_assigned"), F.lit(0))
        ).alias("imbalance"),
        F.when(
            F.max("n_assigned") * F.count(F.lit(1))
            > _IVF_SKEW_FACTOR * F.sum("n_assigned"),
            "skewed_ingest",
        )
        .otherwise("balanced")
        .alias("verdict"),
    )
