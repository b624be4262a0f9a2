#!/usr/bin/env python3
"""Export benchmark: PostgreSQL COPY -> typemap -> Parquet, plus registry queries.

    python3 perfbench/run.py --workload pg_scalar_export --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver thread runs a closed loop: each
job (source call -> Parquet committed) starts after the previous one
commits, on a ``local[nproc]`` session. Set-up (PG start, input generation,
Spark boot, three warm-up passes) is timed separately; every output is checked
after the timed window. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` runs the traced mode and prints the per-layer metrics. The
last stdout line is one JSON object: correct / attempted / failed / metrics.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
SETUP_REPS = 3  # input generation runs this many times; setup_s takes the median
HEAP_GB = 2  # driver heap; the inputs need far less
WARMUP_PASSES = 3  # untimed passes before the timed loop; the first is cold

END_TO_END_UNITS = {
    "rows_per_s": "rows/s", "job_s_p50": "s", "out_bytes_per_in_byte": "ratio",
    "peak_rss_mb": "MB", "setup_s": "s",
}
PER_LAYER_UNITS = {
    "session.boot_s": "s", "inputs.load_s": "s", "setup.warmup_s": "s",
    "sources.read_call_s": "s", "sources.driver_psql_calls": "count",
    "sources.scan_s": "s", "sources.wire_bytes": "bytes",
    "sources.py_rows_received": "count", "sources.py_bytes_sent": "bytes",
    "sources.py_bytes_received": "bytes", "sources.task_skew": "ratio",
    "typemap.convert_s": "s", "typemap.python_udf_rows": "count",
    "audit.audit_s": "s", "audit.source_scans": "count", "audit.cached_bytes": "bytes",
    "operators.exec_s": "s",
    "export.write_s": "s", "export.files": "count", "export.row_groups": "count",
    "export.out_bytes": "bytes", "export.write_tasks": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.core_idle_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "trace.overhead_frac": "ratio",
}


def _ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _loadavg() -> list[float]:
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def _configure_env(work: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout; size to the box."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # session.py defaults the driver heap to 24g: stay well under physical RAM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{HEAP_GB}g"


def _boot_spark(work: str, cpus: int):
    from pg2parquet_spark.session import get_spark

    # static confs get_spark() does not set go through a private conf dir
    conf_dir = os.path.join(work, "spark-conf")
    os.makedirs(conf_dir, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("spark.ui.showConsoleProgress false\n"
                f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}\n"
                # the heap is committed and touched at boot, so the process
                # tree's RSS moves with memory outside it, not with GC sizing
                f"spark.driver.extraJavaOptions -Dderby.system.home={work}"
                f" -Xms{HEAP_GB}g -XX:+AlwaysPreTouch\n")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every descendant process to end; kill stragglers."""
    from perfbench.probes import _proc_table

    def descendants() -> list[int]:
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        out, stack = [], list(kids.get(os.getpid(), ()))
        while stack:
            pid = stack.pop()
            out.append(pid)
            stack.extend(kids.get(pid, ()))
        return out

    deadline = time.monotonic() + timeout_s
    while (pids := descendants()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class CacheWatch:
    """Peak bytes held by persisted RDDs while a span runs."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            infos = self._sc._jsc.sc().getRDDStorageInfo()
            held = sum(i.memSize() + i.diskSize() for i in infos)
            self.peak = max(self.peak, held)

    def __enter__(self) -> "CacheWatch":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _export_layout(path: str) -> tuple[int, int]:
    """(files, row groups) of a committed Parquet output."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)


def per_kind(labels, values) -> dict[str, float]:
    """Median of ``values`` per job kind (label)."""
    by: dict[str, list] = {}
    for label, v in zip(labels, values):
        by.setdefault(label, []).append(v)
    return {label: statistics.median(v) for label, v in by.items()}


def per_pass(labels, values, unit: str) -> float:
    """A pass's figure from per-kind medians: their sum (seconds, counts,
    bytes of one pass), or their mean for a ratio."""
    meds = list(per_kind(labels, values).values())
    return statistics.mean(meds) if unit == "ratio" else sum(meds)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat: the
    share the hypervisor stole explains a slow run on a shared host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_timed(workload, seconds: float, outputs: str, rss) -> tuple[list, float, float]:
    """The closed loop: whole passes, at least one, until ``seconds`` have
    elapsed."""
    from perfbench.workloads import JobResult

    results = []
    rss.reset()
    t0 = time.perf_counter()
    job = 0
    while job < workload.pass_len or not (time.perf_counter() - t0 >= seconds
                                           and job % workload.pass_len == 0):
        out = os.path.join(outputs, f"job{job}")
        t_job = time.perf_counter()
        ticks = _cpu_ticks()
        try:
            results.append(workload.run_job(job, out))
        except Exception as e:  # a failed job counts, the loop goes on
            results.append(JobResult("?", out, 0, 0, 0, time.perf_counter() - t_job,
                                     error=f"{type(e).__name__}: {e}"[:300]))
        steal, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
        results[-1].steal_frac = steal / max(total, 1)
        job += 1
    return results, time.perf_counter() - t0, rss.peak_mb()


def check_all(workload, results) -> int:
    failed = 0
    for res in results:
        if res.error is None:
            try:
                res.error = workload.check(res)
            except Exception as e:
                res.error = f"check raised {type(e).__name__}: {e}"[:300]
        if res.error is not None:
            failed += 1
            print(f"job {res.label} failed: {res.error}", file=sys.stderr)
        shutil.rmtree(res.out_path, ignore_errors=True)
    return failed


def run_traced(workload, ctx, seconds: float, outputs: str, setup: dict):
    """Per-layer numbers: materialize each job's cumulative prefixes, one span
    per layer, then the full job; self time = difference of consecutive
    prefixes. An untraced reference pass first gives the tracing overhead."""
    from perfbench.probes import Tracer, materialize, python_metrics, skew
    from perfbench.workloads import LAYERS, JobResult, out_bytes

    ref = []
    for job in range(workload.pass_len):
        ref.append(workload.run_job(job, os.path.join(outputs, f"ref{job}")))
    tracer = Tracer(ctx.spark)
    per_job: list[dict] = []
    kinds: list[str] = []
    results = list(ref)
    t0 = time.perf_counter()
    job = 0
    while not (time.perf_counter() - t0 >= seconds and job % workload.pass_len == 0) or not per_job:
        out = os.path.join(outputs, f"traced{job}")
        plan, sp_read = tracer.span("sources.read_call", job, lambda: workload.build(job, out))
        walls, py = {}, {}
        for prev, layer in zip((None,) + LAYERS, LAYERS):
            frames = plan.prefixes[layer]
            if prev and list(map(id, frames)) == list(map(id, plan.prefixes[prev])):
                # the job does not use this layer: its self time is 0
                walls[layer], py[layer] = walls[prev], py[prev]
                continue
            plans, sp = tracer.span(layer, job, lambda: [materialize(f)[1] for f in frames],
                                    parent="job")
            walls[layer], py[layer] = sp, {}
            for p in plans:
                for cls, vals in python_metrics(p).items():
                    acc = py[layer].setdefault(cls, dict.fromkeys(vals, 0))
                    for k, v in vals.items():
                        acc[k] += v
        with CacheWatch(ctx.spark.sparkContext) as cache:
            extra, sp_exp = tracer.span("export", job, plan.write, parent="job")
        res = JobResult(plan.label, out, plan.rows, plan.in_bytes, out_bytes(out),
                        sp_read.wall_s + sp_exp.wall_s, extra)
        files, row_groups = _export_layout(out)
        src_py = py["sources"].get("MapInPandasExec", {})
        udf_rows = sum(v["rows_received"] for cls, v in py["typemap"].items() if cls != "MapInPandasExec")
        wire = plan.in_bytes if plan.label == "scan" else walls["sources"].stage_sum("inputBytes")
        run_s = sp_exp.stage_sum("executorRunTime") / 1000
        per_job.append({
            "sources.read_call_s": sp_read.wall_s,
            "sources.driver_psql_calls": plan.driver_psql_calls,
            "sources.scan_s": walls["sources"].wall_s,
            "sources.wire_bytes": wire,
            "sources.py_rows_received": src_py.get("rows_received", 0),
            "sources.py_bytes_sent": src_py.get("bytes_sent", 0),
            "sources.py_bytes_received": src_py.get("bytes_received", 0),
            "sources.task_skew": skew(walls["sources"].stages),
            "typemap.convert_s": walls["typemap"].wall_s - walls["sources"].wall_s,
            "typemap.python_udf_rows": udf_rows,
            "audit.audit_s": walls["audit"].wall_s - walls["typemap"].wall_s,
            "audit.source_scans": sp_exp.stage_sum("inputRecords") / plan.rows
            if plan.label == "exotic" else 0,
            "audit.cached_bytes": cache.peak,
            "operators.exec_s": walls["operators"].wall_s - walls["audit"].wall_s,
            "export.write_s": sp_exp.wall_s - walls["operators"].wall_s,
            "export.files": files,
            "export.row_groups": row_groups,
            "export.out_bytes": res.out_bytes,
            "export.write_tasks": sum(s.totals["numTasks"] for s in sp_exp.stages
                                      if s.totals["outputRecords"] > 0),
            "spark.tasks": sp_exp.stage_sum("numTasks"),
            "spark.failed_tasks": sp_exp.stage_sum("numFailedTasks"),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sp_exp.stage_sum("executorCpuTime") / 1e9,
            "spark.gc_s": sp_exp.stage_sum("jvmGcTime") / 1000,
            "spark.core_idle_frac": 1 - run_s / (ctx.cpus * sp_exp.wall_s),
            "spark.shuffle_write_bytes": sp_exp.stage_sum("shuffleWriteBytes"),
            "spark.spill_bytes": sp_exp.stage_sum("diskBytesSpilled") + sp_exp.stage_sum("memoryBytesSpilled"),
        })
        results.append(res)
        kinds.append(plan.label)
        job += 1
    untraced = sum(per_kind([r.label for r in ref], [r.wall_s for r in ref]).values())
    traced = sum(per_kind(kinds, [r.wall_s for r in results[len(ref):]]).values())
    metrics = {k: per_pass(kinds, [j[k] for j in per_job], PER_LAYER_UNITS[k]) for k in per_job[0]}
    metrics.update({
        "session.boot_s": setup["boot_s"], "inputs.load_s": setup["load_s"],
        "setup.warmup_s": setup["warmup_s"], "trace.overhead_frac": traced / untraced - 1,
    })
    return results, metrics, tracer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (smoke tests)")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "pg2parquet_spark")):
        print(f"pg2parquet_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import pyarrow
    import pyspark

    from perfbench.pgcluster import PgCluster, has_pgvector
    from perfbench.probes import RssSampler
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work, cpus)
    env = {"nproc": cpus, "ram_gb": round(_ram_bytes() / 2**30, 1), "loadavg_before": _loadavg(),
           "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
           "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], "pg_version": None, "pgvector": None,
           "workload": args.workload, "seed": args.seed, "trace": args.trace}
    cls = WORKLOADS[args.workload]
    spark = pg = None
    try:
        with RssSampler() as rss:
            t = time.perf_counter()
            spark = _boot_spark(work, cpus)
            boot_s = time.perf_counter() - t
            t = time.perf_counter()
            pg = PgCluster(os.path.join(work, "pg")) if cls.needs_pg else None
            if pg is not None:
                pg.start()
            pg_start_s = time.perf_counter() - t
            ctx = Context(spark=spark, work=work, seed=args.seed, cpus=cpus, scale=args.scale, pg=pg)
            workload = cls(ctx)
            loads = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                workload.load_inputs()
                loads.append(time.perf_counter() - t)
            t = time.perf_counter()
            workload.prepare()
            prepare_s = time.perf_counter() - t
            workload.stage_truth()
            if pg is not None:
                env["pg_version"], env["pgvector"] = pg.version, has_pgvector(pg)
            outputs = os.path.join(work, "out")
            t = time.perf_counter()
            warm = [workload.run_job(j, os.path.join(outputs, f"warm{j}"))
                    for j in range(WARMUP_PASSES * workload.pass_len)]
            warmup_s = time.perf_counter() - t
            setup = {"boot_s": boot_s, "load_s": pg_start_s + statistics.median(loads) + prepare_s,
                     "warmup_s": warmup_s}
            setup_s = boot_s + setup["load_s"] + warmup_s
            if args.trace:
                results, layer_metrics, tracer = run_traced(workload, ctx, args.seconds, outputs, setup)
                elapsed = peak_mb = 0.0
            else:
                ticks = _cpu_ticks()
                results, elapsed, peak_mb = run_timed(workload, args.seconds, outputs, rss)
                steal, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
                env["steal_frac"] = round(steal / max(total, 1), 4)
            t = time.perf_counter()
            failed = check_all(workload, warm + results)
            check_s = time.perf_counter() - t
            attempted = len(warm) + len(results)
    finally:
        if pg is not None:
            pg.stop()
        if spark is not None:
            _stop_spark(spark)
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(BENCH, "_work"))
        except OSError:  # another run still owns a work dir
            pass
    env["loadavg_after"] = _loadavg()

    ok = [r for r in results if r.error is None]
    if args.trace:
        metrics = layer_metrics
        units = PER_LAYER_UNITS
        traces = os.path.join(BENCH, "_traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), env)
    else:
        walls = per_kind([r.label for r in results], [r.wall_s for r in results])
        rows = {r.label: r.rows for r in ok}
        metrics = {
            "rows_per_s": sum(rows.get(k, 0) for k in walls) / sum(walls.values()),
            "job_s_p50": statistics.mean(walls.values()),
            "out_bytes_per_in_byte": sum(r.out_bytes for r in ok) / max(sum(r.in_bytes for r in ok), 1),
            "peak_rss_mb": peak_mb,
            "setup_s": setup_s,
        }
        units = END_TO_END_UNITS
    print(json.dumps({"env": env}))
    summary = {k: f"{v:.6g} {units[k]}" for k, v in metrics.items()}
    summary["failed_job_frac"] = f"{failed / attempted:.4g} ({failed}/{attempted} jobs)"
    summary["jobs_timed"] = len(results)
    summary["timed_s"] = round(elapsed, 3)
    summary["check_s"] = round(check_s, 3)
    summary["run_wall_s"] = round(time.perf_counter() - t_start, 3)
    summary["setup_parts_s"] = {k: round(v, 3) for k, v in setup.items()}
    summary["job_walls_s"] = [f"{r.label}={r.wall_s:.3f}/{r.steal_frac:.3f}" for r in results]
    if not args.trace:
        summary["kind_p50_s"] = {k: round(v, 3) for k, v in walls.items()}
    print(json.dumps({"summary": args.workload, **summary}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
