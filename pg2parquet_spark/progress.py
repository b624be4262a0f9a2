"""Live export progress meter (SURVEY §2.A A36).

The reference prints rows/s + MiB/s continuously WHILE writing
(cli/src/parquet_writer.rs:100-151, an indicatif progress bar on stderr).
The Spark-native analog is observation, not instrumentation: a background
thread polls

- bytes landed so far in the directory being written (for ``export()``,
  its ``<parent>/.<name>._tmp`` staging directory), by
  :func:`export.data_files`, the recursive Hadoop FileSystem listing the
  export report also uses (scheme-resolved: file://, hdfs://, s3a:// all
  work; the
  in-flight ``_temporary`` task files count, which is exactly "written so
  far" while the job runs), and
- task completion of the jobs the enclosed action starts. The meter tags
  them with a Spark job tag of its own (set on the entering thread, which
  Spark carries into the jobs that thread starts), so concurrent exports
  each count only their own tasks. Per-task row counts are not exposed, so
  the live row meter is task-granular — the exact row total is in the
  ``ExportReport`` that ``export()`` returns.

It is the only progress output: ``get_spark`` turns off Spark's console
stage bars. Everything prints to stderr so stdout stays machine-readable
(the CLI prints its report there).
"""

from __future__ import annotations

import sys
import threading
import time
import uuid
from collections.abc import Callable

from pg2parquet_spark.export import data_files


class ProgressReporter:
    """Context manager: emits one progress line per ``interval_s`` during the
    enclosed Spark action, plus a final line on exit that ends in ``done``,
    or in ``failed`` when the block raised. The action must run
    on the thread that enters the context: that thread carries the tag.

    ``sink`` receives each formatted line (default: stderr print) — tests
    inject a list-appender to capture output.
    """

    def __init__(
        self,
        spark,
        path: str,
        interval_s: float = 2.0,
        sink: Callable[[str], None] | None = None,
    ) -> None:
        self._spark = spark
        self._path = path
        self._interval = interval_s
        self._sink = sink or (lambda line: print(line, file=sys.stderr))
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._t0 = 0.0
        self._bytes = 0
        self._tag = f"pg2parquet-export-{uuid.uuid4().hex}"

    # -- probes ------------------------------------------------------------
    def _bytes_written(self) -> int:
        """One recursive listing per tick. While the directory does not
        exist yet, or changes under the listing, the last figure stands."""
        try:
            self._bytes = sum(size for _f, size in data_files(self._spark, self._path))
        except Exception:  # never let the meter kill the write
            pass
        return self._bytes

    def _task_progress(self) -> tuple[int, int]:
        """Tasks done and in all of the tagged jobs, finished ones included.
        PySpark's ``StatusTracker`` has no by-tag lookup; the JVM's has."""
        try:
            sc = self._spark.sparkContext
            st = sc.statusTracker()
            done = total = 0
            for jid in sc._jsc.sc().statusTracker().getJobIdsForTag(self._tag):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is None:
                        continue
                    total += si.numTasks
                    done += si.numCompletedTasks
            return done, total
        except Exception:
            return 0, 0

    # -- lifecycle ---------------------------------------------------------
    def _tick(self, final: str | None = None) -> None:
        """One meter line; ``final`` replaces the task count with the
        closing word (``done`` or ``failed``)."""
        elapsed = max(time.monotonic() - self._t0, 1e-9)
        mib = self._bytes_written() / (1024 * 1024)
        rate = mib / elapsed
        tasks = final or "tasks %d/%d" % self._task_progress()
        self._sink(
            f"[export] {elapsed:6.1f}s  {mib:9.1f} MiB written  "
            f"{rate:7.1f} MiB/s  {tasks}"
        )

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._tick()

    def __enter__(self) -> "ProgressReporter":
        self._spark.sparkContext.addJobTag(self._tag)
        self._t0 = time.monotonic()
        self._thread = threading.Thread(
            target=self._run, name="export-progress", daemon=True
        )
        self._thread.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._spark.sparkContext.removeJobTag(self._tag)
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._tick(final="done" if exc_type is None else "failed")
