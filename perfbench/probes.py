"""Observation probes the benchmark uses from outside the program.

- :class:`RssSampler`: peak summed RSS of this process and all of its
  descendants (driver JVM, Python workers, psql children), read from /proc.
- :class:`Tracer`: spans around calls into each layer. One ``setJobGroup``
  per span; after the span closes, the Spark jobs of that group are read
  from Spark's status store over py4j (stage totals and task times), and
  the physical plan of a materialized prefix yields its SQL metrics
  (Python-runner rows and bytes). Spans stay in memory and are written out
  once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, rss bytes, command name) for every live process."""
    out: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: split after its closing paren
        fields = stat[stat.rfind(")") + 2:].split()
        comm = stat[stat.find("(") + 1:stat.rfind(")")]
        out[int(name)] = (int(fields[1]), int(fields[21]) * _PAGE, comm)
    return out


def tree_rss_bytes(root: int | None = None) -> int:
    root = root or os.getpid()
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            ppid, rss, comm = table[pid]
            # a child between fork and exec (the JVM spawns through vfork)
            # shows its parent's pages: count them once
            if table.get(ppid, (0, -1, ""))[1:] != (rss, comm):
                total += rss
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of the process tree's summed RSS. Only the window
    between :meth:`reset` and :meth:`peak_mb` counts."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self._interval = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        rss = tree_rss_bytes()
        with self._lock:
            self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak / (1024 * 1024)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark status store ------------------------------------------------------
STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled", "inputBytes",
    "inputRecords", "outputBytes", "outputRecords",
)


@dataclass
class StageStats:
    stage_id: int
    totals: dict[str, int]
    task_run_ms: list[int]


@dataclass
class Span:
    name: str
    job: int
    start: float
    end: float
    parent: str | None = None
    counts: dict[str, float] = field(default_factory=dict)
    stages: list[StageStats] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def stage_sum(self, key: str) -> int:
        return sum(s.totals[key] for s in self.stages)


class Tracer:
    """Span recorder over one SparkSession."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self._seq = 0

    def span(self, name: str, job: int, fn, parent: str | None = None):
        """Run ``fn()`` as one span; returns (fn's result, the Span)."""
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        sp = Span(name=name, job=job, start=t0, end=t1, parent=parent)
        sp.stages = self._group_stages(group)
        self.spans.append(sp)
        return result, sp

    def _group_stages(self, group: str) -> list[StageStats]:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        # the status listener runs behind the job: wait until it saw every end
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.02)
        stage_ids = sorted({s for j in job_ids for s in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])})
        jvm = self.sc._jvm
        gateway = self.sc._gateway
        out = []
        for sid in stage_ids:
            try:
                attempts = self.store.stageData(sid, False, jvm.java.util.ArrayList(), False,
                                                gateway.new_array(jvm.double, 0))
            except Exception:  # skipped stages have no entry in the store
                continue
            totals = dict.fromkeys(STAGE_FIELDS, 0)
            runs: list[int] = []
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.numTasks() == 0 or str(sd.status().toString()) == "SKIPPED":
                    continue
                for k in STAGE_FIELDS:
                    totals[k] += int(getattr(sd, k)())
                tasks = self.store.taskList(sid, sd.attemptId(), 100000)
                for t in range(tasks.size()):
                    m = tasks.apply(t).taskMetrics()
                    if m.isDefined():
                        runs.append(int(m.get().executorRunTime()))
            if totals["numTasks"]:
                out.append(StageStats(stage_id=sid, totals=totals, task_run_ms=runs))
        return out

    def write(self, path: str, meta: dict) -> None:
        rows = [
            {
                "name": s.name, "job": s.job, "parent": s.parent,
                "start": s.start, "end": s.end, "counts": s.counts,
                "stages": [{"id": st.stage_id, **st.totals} for st in s.stages],
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": rows}, f, indent=1)


def skew(stages: list[StageStats]) -> float:
    """max/median task run time of the busiest stage (1.0 = perfectly even)."""
    busiest = max(stages, key=lambda s: s.totals["executorRunTime"], default=None)
    if busiest is None or not busiest.task_run_ms:
        return 1.0
    med = statistics.median(busiest.task_run_ms)
    return max(busiest.task_run_ms) / med if med > 0 else 1.0


# -- physical-plan SQL metrics ----------------------------------------------
def plan_nodes(plan):
    """Every node of an executed physical plan, looking through AQE wrappers."""
    stack = [plan]
    while stack:
        p = stack.pop()
        yield p
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        else:
            ch = p.children()
            stack.extend(ch.apply(i) for i in range(ch.size()))


def python_metrics(plan) -> dict[str, dict[str, int]]:
    """Summed Python-runner SQL metrics per node class (e.g. MapInPandasExec,
    ArrowEvalPythonExec) of an executed plan."""
    out: dict[str, dict[str, int]] = {}
    for node in plan_nodes(plan):
        metrics = node.metrics()
        if not metrics.contains("pythonDataSent"):
            continue
        cls = node.getClass().getSimpleName()
        acc = out.setdefault(cls, {"rows_received": 0, "bytes_sent": 0, "bytes_received": 0})
        acc["bytes_sent"] += int(metrics.apply("pythonDataSent").value())
        acc["bytes_received"] += int(metrics.apply("pythonDataReceived").value())
        acc["rows_received"] += int(metrics.apply("pythonNumRowsReceived").value())
    return out


def materialize(df) -> tuple[int, object]:
    """Run ``df`` to completion and discard its rows — the noop sink — through
    the frame's own QueryExecution, so its executed plan keeps the metrics.
    Returns (rows, executed plan)."""
    qe = df._jdf.queryExecution()
    n = qe.toRdd().count()
    return int(n), qe.executedPlan()
