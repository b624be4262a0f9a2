"""Live export progress meter (SURVEY §2.A A36).

The reference prints rows/s + MiB/s continuously WHILE writing
(cli/src/parquet_writer.rs:100-151, an indicatif progress bar on stderr).
The Spark-native analog is observation, not instrumentation: a background
thread polls

- bytes landed so far in the directory being written (for ``export()``,
  its ``<path>._tmp`` staging directory), through the Hadoop
  FileSystem API (scheme-resolved: file://, hdfs://, s3a:// all work; the
  in-flight ``_temporary`` task files count, which is exactly "written so
  far" while the job runs), and
- task completion of the active jobs from ``SparkStatusTracker`` (the
  public API; per-task row counts are not exposed to Python, so the live
  row meter is task-granular — exact row totals come from
  ``parquetinfo.write_stats`` after commit).

Everything prints to stderr so stdout stays machine-readable (the CLI and
bench print JSON there).
"""

from __future__ import annotations

import sys
import threading
import time
from collections.abc import Callable


class ProgressReporter:
    """Context manager: emits one progress line per ``interval_s`` during the
    enclosed Spark action, plus a final line on exit.

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
        # committed task/output files are immutable once visible — size each
        # exactly once. {path-string: bytes}
        self._committed: dict[str, int] = {}
        # per-tick probe telemetry (unit-tested): dir listings performed and
        # how many file sizes came from cache vs fresh listing entries
        self.last_probe: dict[str, int] = {}

    # -- probes ------------------------------------------------------------
    def _bytes_written(self) -> int:
        """Incremental probe. The old shape — ``getContentSummary(root)`` per
        tick — is a full server-side recursive walk of everything written so
        far, O(total files) per tick on an object store. This one:

        - lists each live directory once per tick (one LIST RPC each, sizes
          come with the entries — never a recursive content summary),
        - caches committed-file sizes forever (task outputs are immutable
          once visible, so a cached size can never go stale),
        - recurses only under ``_temporary`` (in-flight task attempts) and
          any nested partition dirs, reusing the same cache.

        Remote round trips per tick are O(live directories), not a
        recursive walk of every byte landed so far; per-entry work for
        already-committed files is a cache hit.
        """
        stats = {"dirs_listed": 0, "files_new": 0, "files_cached": 0}
        try:
            jvm = self._spark._jvm
            root = jvm.org.apache.hadoop.fs.Path(self._path)
            fs = root.getFileSystem(self._spark._jsc.hadoopConfiguration())
            if not fs.exists(root):
                self.last_probe = stats
                return 0
            inflight = 0
            pending = [root]
            while pending:
                d = pending.pop()
                stats["dirs_listed"] += 1
                for st in fs.listStatus(d):
                    if st.isDirectory():
                        pending.append(st.getPath())
                        continue
                    key = st.getPath().toString()
                    if "_temporary" in key:
                        # in-flight attempt files get rewritten/renamed —
                        # never cache, always count the listed size
                        inflight += st.getLen()
                    elif key in self._committed:
                        stats["files_cached"] += 1
                    else:
                        stats["files_new"] += 1
                        self._committed[key] = st.getLen()
            self.last_probe = stats
            return sum(self._committed.values()) + inflight
        except Exception:  # never let the meter kill the write
            self.last_probe = stats
            return sum(self._committed.values())

    def _task_progress(self) -> tuple[int, int]:
        try:
            st = self._spark.sparkContext.statusTracker()
            done = total = 0
            for jid in st.getActiveJobsIds():
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
    def _tick(self, final: bool = False) -> None:
        elapsed = max(time.monotonic() - self._t0, 1e-9)
        mib = self._bytes_written() / (1024 * 1024)
        rate = mib / elapsed
        done, total = self._task_progress()
        tasks = "done" if final else f"tasks {done}/{total}"
        self._sink(
            f"[export] {elapsed:6.1f}s  {mib:9.1f} MiB written  "
            f"{rate:7.1f} MiB/s  {tasks}"
        )

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._tick()

    def __enter__(self) -> "ProgressReporter":
        self._t0 = time.monotonic()
        self._thread = threading.Thread(
            target=self._run, name="export-progress", daemon=True
        )
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._tick(final=True)
