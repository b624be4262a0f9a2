#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Materialization uses the `noop` DSv2 sink so every output column is computed
(a bare .count() would let Catalyst prune the plan to nothing).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # machine context BEFORE the JVM boots: r5/r6 recorded +3%/+11% drift on
    # byte-identical code with no way to tell environment from regression —
    # the load average at measurement time is the discriminator (a loaded
    # box inflates every query uniformly; a code regression is query-local)
    load_before = os.getloadavg()

    from pg2parquet_spark.session import get_spark
    from pg2parquet_spark.registry import load_all

    spark = get_spark(app_name="pg2parquet_spark_bench", cpus=cpus)
    registry = load_all()

    headline = [
        n
        for n in (
            "q01_pricing_summary",
            "q03_shipping_priority",
            "q05_local_supplier_volume",
            "q_window_topk_per_customer",
            "q_events_hourly",
            "q_events_sessionize",
            "dedup_exact",
            "dedup_minhash_lsh",
            "text_quality_stats",
            "text_tfidf_topk",
            "pipeline_chunk_documents",
            "ann_cosine_topk",
            "sink_roundtrip",
            "q_events_funnel",
            "pipeline_end_to_end",
            # r10 (r9 VERDICT #6): the IVF arm is the embedding-dedup
            # family's scale story — tracked so a regression in the Arrow
            # assignment kernel or the cell join surfaces as a number.
            # NOTE: headline totals r01–r09 predate this entry (the same
            # comparability break as the streaming split).
            "dedup_embedding_ivf",
        )
        if n in registry
    ]

    # warm the JVM + parquet footers once so timings measure the query, not
    # boot; also one tiny zstd write so the sink query's timing measures the
    # roundtrip, not one-time codec/output-committer initialization
    registry[headline[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # ... and every input table the headline set touches, not just q01's:
    # a first-touch scan pays footer reads + OS page-cache fill that belongs
    # to the environment, not the query under test
    from pg2parquet_spark.tables import table

    for t in ("lineitem", "orders", "customer", "supplier", "nation", "region",
              "events", "documents", "embeddings"):
        table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    import tempfile

    from pg2parquet_spark.export import export
    from pg2parquet_spark.options import ExportOptions

    export(
        spark.range(1),
        tempfile.mkdtemp(prefix="bench_warm_") + "/warm.parquet",
        ExportOptions(compression="zstd", compression_level=3),
        quiet=True,
    )

    # one untimed pass per query (JIT/codegen warm-up), then three timed
    # passes reported as the per-query MEDIAN: steady-state throughput is
    # what a long-running cluster job sees (a cold-JVM first execution
    # measures HotSpot, not the plan), and the median keeps one GC pause or
    # scheduler hiccup from defining the recorded number either way
    for name in headline:
        registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    samples: dict[str, list[float]] = {n: [] for n in headline}
    for _ in range(3):
        for name in headline:
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
    timings = {n: round(sorted(ts)[1], 3) for n, ts in samples.items()}
    # per-query min/max alongside the median: in-artifact evidence of the
    # run's own noise floor (a wide spread on identical passes = environment)
    spread = {
        n: [round(min(ts), 3), round(max(ts), 3)] for n, ts in samples.items()
    }

    # Streaming section (separate from `value` so the headline total stays
    # like-for-like across rounds): the heaviest registered streaming query
    # — a real stream-stream join through writeStream + processAllAvailable
    # — regression-tracked with the same warm-1/median-of-3 method.
    streaming_names = [
        n for n in ("stream_click_purchase_join",) if n in registry
    ]
    stream_timings: dict[str, float] = {}
    for name in streaming_names:
        registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        stream_timings[name] = round(sorted(ts)[1], 3)

    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "query_spread": spread,
        "streaming_queries": stream_timings,
        "streaming_total_sec": round(sum(stream_timings.values()), 3),
        "sf": sf,
        "env": {
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "os_cpus": os.cpu_count(),
            "spark_cpus": cpus,
        },
        "method": "steady-state: 1 untimed warm pass, median of 3 timed passes; "
        "streaming tracked separately from the headline total for "
        "cross-round comparability; query_spread = [min,max] of the 3 "
        "passes and env.loadavg separate machine noise from code "
        "regressions; dedup_embedding_ivf joined the headline set in r10 "
        "(totals before BENCH_r10 exclude it); BENCH_r10's uniform ~2x vs "
        "r9 was attributed to environment by the r11 interleaved A/B vs "
        "28097bf (BENCH_AB_r11.md: HEAD faster than r9 code side-by-side, "
        "A/B 0.86-0.93) — read cross-round absolute totals with up to ~2x "
        "machine-window variance",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
