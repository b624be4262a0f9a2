"""Parquet sink (SURVEY §2.A A5-A8) — Spark's writer, configured.

The reference hand-rolls a streaming columnar writer (appenders +
level_index + parquet_writer.rs). All of that machinery is internal to
Spark's ParquetOutputWriter; what we reproduce is the *configuration
surface*:

- compression codec map incl. levels (main.rs:228-250; zstd level 3 default,
  gzip levels 0-9)
- row-group sizing: 500 MiB raw / parquet.block.size (postgres_cloner.rs:305)
- overwrite-on-exists as an atomic replace (main.rs output_file docs): every
  export is staged at ``<parent>/.<name>._tmp`` and published by
  :func:`_publish`'s rename-aside swap, so a failed export leaves the
  previous dataset intact. Two concurrent exports to one path are not
  supported (they share the staging directory).
- the writer's summary counters (``WriterStats``, parquet_writer.rs:8-14):
  :func:`export` returns them as an :class:`ExportReport`.
- optional single-file output (the reference is single-file by construction;
  at 100 TB you want many files — single_file=False default keeps the
  parallel writer, one file per task)

Deviations (documented, value-preserving): LZO and Brotli unsupported by
Spark's writer (hard error, same contract); `created_by` metadata not
settable.

Ordering (SURVEY §7.2): with single_file=True and sort_by, one shuffle
gathers the input into one partition that is sorted within itself; with
single_file alone, coalesce(1) keeps an already ordered input's order.

Compaction (:func:`compact`) rewrites each leaf of a flat or hive dataset
into right-sized files through :func:`export`.
"""

from __future__ import annotations

import math
import posixpath
import time
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager, nullcontext, suppress
from dataclasses import dataclass
from urllib.parse import quote, urlsplit

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from pg2parquet_spark.options import GZIP_LEVELS, ExportOptions


@dataclass(frozen=True)
class ExportReport:
    """What one export wrote: the reference's ``WriterStats`` counters
    (rows, bytes, row groups; parquet_writer.rs:8-14) plus the data files
    and the export's wall time. ``str()`` is the reference's summary line."""

    rows: int
    files: int
    bytes: int
    row_groups: int
    seconds: float

    def __str__(self) -> str:
        rate = self.rows / self.seconds if self.seconds > 0 else float("inf")
        return (
            f"Wrote {self.rows} rows / {self.bytes / (1024 * 1024):.2f} MiB in "
            f"{self.files} file(s), {self.row_groups} row group(s), "
            f"{self.seconds:.2f}s ({rate:,.0f} rows/s)"
        )


def export(
    df: DataFrame, path: str, options: ExportOptions | None = None, quiet: bool = False
) -> ExportReport:
    """Write ``df`` to ``path`` as Parquet per the export options and
    return what was written.

    The write lands at ``<parent>/.<name>._tmp``, hidden from readers of
    the parent, and replaces ``path`` only once it has succeeded
    (:func:`_publish`).

    Like the reference, a live progress meter (A36: MiB written, MiB/s, task
    completion — ref cli/src/parquet_writer.rs:100-151) prints to stderr
    during the write by default; ``quiet=True`` (CLI ``--quiet``) suppresses.
    """
    return _export(df, path, options or ExportOptions(), quiet)[0]


def _export(
    df: DataFrame,
    path: str,
    options: ExportOptions,
    quiet: bool,
    metrics: Sequence[Column] = (),
    hidden: Sequence[str] = (),
    check: Callable[[Row], None] | None = None,
) -> tuple[ExportReport, Row]:
    """Lay out, observe, write, list, narrow float16 columns, publish: the
    one write path. Returns the report and the observed row; if ``check``
    raises on that row, ``path`` is left as it was. The unnamed
    ``Observation`` (row count + ``metrics`` over the ``hidden`` columns)
    sits above the sort: the range partitioner's sampling job reruns the
    sort's input, so below it every row would count twice. A single sorted
    file needs no range partitioner: one shuffle into one partition, sorted
    within it, evaluates the input once."""
    from pyspark.sql import Observation

    t0 = time.monotonic()
    spark = df.sparkSession
    scheme = urlsplit(path).scheme
    if options.float16_handling == "float16" and scheme:  # no scheme: local
        try:
            _filesystem(path)
        except (pa.ArrowException, OSError) as exc:  # OSError: no libhdfs
            # refused before the write job, not after it
            raise ValueError(
                f"float16_handling='float16' cannot narrow files under {scheme}://: "
                f"pyarrow opens no filesystem for it ({exc})"
            ) from exc
    if options.single_file and options.sort_by:
        df = df.repartition(1).sortWithinPartitions(*options.sort_by)
    elif options.sort_by:
        df = df.orderBy(*options.sort_by)
    elif options.single_file:
        df = df.coalesce(1)
    seen = Observation()
    df = df.observe(seen, F.count(F.lit(1)).alias("__rows"), *metrics).drop(*hidden)
    with _publish(spark, path) as tmp:
        _write(df, tmp, options, quiet)
        got = seen.get  # only after the write: it blocks if the action failed
        if check is not None:
            check(got)
        files = data_files(spark, tmp)
        if options.float16_handling == "float16":
            files = _narrow_to_float16(spark, files, options)
        groups = _row_groups(spark, files)
    return ExportReport(
        rows=got["__rows"],
        files=len(files),
        bytes=sum(size for _f, size in files),
        row_groups=groups,
        seconds=time.monotonic() - t0,
    ), got


def _write(df: DataFrame, path: str, options: ExportOptions, quiet: bool) -> None:
    """One write job of the (already laid out) ``df`` into the fresh
    directory ``path``. A ``timestamp`` (PG ``timestamptz``) column is
    written as the reference writes it, INT64 ``Timestamp(isAdjustedToUTC,
    MICROS)``, not Spark's default INT96: the session conf is set, and kept,
    since the writer ignores it as a write option."""
    from pg2parquet_spark.progress import ProgressReporter

    df.sparkSession.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    writer = df.write.option("compression", options.spark_codec).option(
        "parquet.block.size", str(options.row_group_bytes)
    )
    level = options.compression_level
    if level is not None and options.compression == "zstd":
        writer = writer.option("parquet.compression.codec.zstd.level", str(level))
    elif level is not None:  # gzip: ExportOptions refuses a level with any other codec
        writer = writer.option("zlib.compress.level", GZIP_LEVELS[level])
    if options.partition_by:
        # hive-style layout: readers get partition pruning on these columns
        writer = writer.partitionBy(*options.partition_by)
    with nullcontext() if quiet else ProgressReporter(df.sparkSession, path):
        writer.parquet(path)


def data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every data file under ``path`` (not ``_*`` or
    ``.*`` names; a running write's ``_temporary`` files count), listed
    through the Hadoop FileSystem of the path's scheme. One ``listStatus``
    per directory: the local ``listFiles`` forks a ``stat`` per file."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    files, dirs = [], [root]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            p = st.getPath()
            if st.isDirectory():
                dirs.append(p)
            elif not p.getName().startswith(("_", ".")):
                files.append((p.toString(), st.getLen()))
    return files


def _row_groups(spark: SparkSession, files: list[tuple[str, int]]) -> int:
    """Row groups in the Parquet footers of ``files``."""
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath
    # readFooter, not ParquetFileReader.open: a footer is all this needs
    read_footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter
    everything = jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
    return sum(
        read_footer(input_file(hpath(f), conf), everything).getBlocks().size()
        for f, _size in files
    )


def _restore_aside(spark: SparkSession, fs, path: str) -> None:
    """Roll back a swap cut short after its rename-aside: where ``path`` is
    missing and ``<parent>/.<name>._old`` exists, the old copy is the
    dataset, so it is renamed back."""
    head, name = posixpath.split(path.rstrip("/"))
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    dst, old = hpath(path), hpath(posixpath.join(head, f".{name}._old"))
    if fs.exists(old) and not fs.exists(dst):
        fs.rename(old, dst)


@contextmanager
def _publish(spark: SparkSession, path: str) -> Iterator[str]:
    """The one commit protocol: yield the staging directory
    ``<parent>/.<name>._tmp`` for the body to write, then swap it into place.

    Both staging names start with ``.``, which Spark, pyarrow and Hive skip:
    when ``path`` is a leaf of a hive layout, a reader of the root sees
    neither the staged nor the moved-aside copy as a partition.

    If the body raises, the staging directory is deleted, the error
    re-raised, and ``path`` is untouched (Spark's ``mode("overwrite")``
    would have deleted it first). Otherwise the swap is rename-aside (path →
    ``<parent>/.<name>._old``), rename-into-place, delete-old-last: at every
    instant the data exists in full at path, old or tmp, and a failed
    rename-in rolls the old dir back; a swap cut short by a crash is rolled
    back (:func:`_restore_aside`) by the next publish or compaction. Hadoop
    FileSystem API throughout, resolved from the path's own scheme (file://,
    hdfs://, s3a://).
    """
    base = path.rstrip("/")
    head, name = posixpath.split(base)
    staged = posixpath.join(head, f".{name}._tmp")
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    dst, tmp = hpath(base), hpath(staged)
    old = hpath(posixpath.join(head, f".{name}._old"))
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    _restore_aside(spark, fs, base)
    fs.delete(old, True)
    fs.delete(tmp, True)  # stale leftover of a crashed export
    try:
        yield staged
        had = fs.exists(dst)
        if had and not fs.rename(dst, old):
            raise IOError(f"publish: could not move {path} aside; dataset untouched")
    except BaseException:
        fs.delete(tmp, True)
        raise
    if not fs.rename(tmp, dst):
        if had:
            fs.rename(old, dst)  # roll back: restore the original dataset
        fs.delete(tmp, True)
        raise IOError(f"publish: rename {staged} -> {path} failed; dataset restored")
    fs.delete(old, True)


def _filesystem(uri: str):
    """(pyarrow filesystem, path) for a full file URI as Hadoop prints it:
    raw, so it is percent-encoded first. A seam for tests."""
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(quote(uri, safe=":/@!$&'()*+,;="))


def _rewrite_one_float16(
    uri: str, wanted: frozenset, codec: str, level: int | None = None
) -> tuple[str, int]:
    """Rewrite ONE parquet file's ``wanted`` columns to Float16 (FLBA-2) and
    return its listing entry: ``uri`` and its new size.

    Runs as a Spark TASK — never on the driver: the file list of a 100 TB
    export is thousands of files, and a serial driver loop over read_table/
    write_table would be the export's long pole. The guard below pins that
    contract (and the pytest relies on it).

    ``uri`` is the file's full URI as the export's Hadoop listing printed it
    (``file:/…``), so its scheme and authority pick the pyarrow filesystem.
    pyarrow knows no ``s3a://`` and opens ``hdfs://`` only where libhdfs is
    installed: `_export` refuses such a path before it writes.
    The rewrite keeps the file's layout: one output row group per source
    row group (Spark already sized them by ``row_group_bytes``), written
    with the export's codec and ``level``. Crash safety: a task killed
    mid-write (speculation, preemption, OOM) must not leave a truncated file
    for the retry to trip over, so the rewrite lands at ``<path>.f16tmp``
    and is renamed into place. A retry that finds a stale tmp simply
    overwrites it.
    """
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    if TaskContext.get() is None:
        raise RuntimeError("float16 narrowing must run as a Spark task, not on the driver")
    fsys, path = _filesystem(uri)

    def narrow(field: pa.Field) -> pa.Field:
        if field.name not in wanted:
            return field
        typ = field.type
        if pa.types.is_float32(typ) or pa.types.is_float64(typ):
            return field.with_type(pa.float16())
        if pa.types.is_list(typ):
            return field.with_type(pa.list_(typ.value_field.with_type(pa.float16())))
        raise ValueError(f"float16_columns: column {field.name!r} has non-float type {typ}")

    src = pq.ParquetFile(fsys.open_input_file(path))
    schema = pa.schema([narrow(f) for f in src.schema_arrow])
    tmp = path + ".f16tmp"
    with pq.ParquetWriter(
        tmp, schema, filesystem=fsys, compression=codec, compression_level=level
    ) as out:
        for i in range(src.num_row_groups):
            group = src.read_row_group(i).cast(schema)
            out.write_table(group, row_group_size=max(1, group.num_rows))
    fsys.move(tmp, path)
    # Hadoop's local filesystem keeps a checksum of the old bytes beside the
    # file; left stale, it fails every later read of the file through Hadoop
    head, name = posixpath.split(path)
    with suppress(FileNotFoundError):
        fsys.delete_file(posixpath.join(head, f".{name}.crc"))
    return uri, fsys.get_file_info(path).size


def _narrow_to_float16(
    spark: SparkSession, files: list[tuple[str, int]], options: ExportOptions
) -> list[tuple[str, int]]:
    """A35 float16 mode (ref cli/src/postgres_cloner.rs:660-666): rewrite the
    named columns of the export's listed ``files`` to the Parquet FLOAT16
    logical type (FLBA-2); returns the listing with the new sizes.

    Spark's writer has no 16-bit float type, so f16 sources travel widened
    to f32 (exactly — PG already rounded them to half precision) and this
    pyarrow post-pass narrows the storage back per file, one Spark task per
    file (`sc.parallelize(uris, len(uris))`), so the pass scales with the
    cluster instead of serializing on the driver.
    """
    if not files:
        return files
    wanted = frozenset(options.float16_columns)
    codec = options.compression  # pyarrow's codec names are the reference's
    # Spark's default levels (zstd 3, zlib's 6) are not pyarrow's (zstd 1,
    # gzip 9): pass Spark's explicitly
    level = options.compression_level
    if level is None:
        level = {"zstd": 3, "gzip": 6}.get(codec)
    uris = [uri for uri, _size in files]
    done = (
        spark.sparkContext.parallelize(uris, len(uris))
        .map(lambda uri: _rewrite_one_float16(uri, wanted, codec, level))
        .collect()  # bounded: one listing entry per file
    )
    if sorted(uri for uri, _size in done) != sorted(uris):
        raise RuntimeError("float16 narrowing: task results do not cover the file list")
    return done


class ConversionError(RuntimeError):
    """A conversion silently nulled a non-null source value during export.

    Mirrors the reference's abort-with-row-identification contract
    (cli/src/postgresutils.rs:4-51): the message carries the first
    identifiable key of the lowest offending row.
    """


def export_audited(
    df: DataFrame,
    path: str,
    conversions: dict,
    options: ExportOptions | None = None,
    id_col: str | None = None,
    fail_on_nulled: bool = True,
) -> DataFrame:
    """Export with error-row identification (SURVEY §2.A A37).

    ``conversions`` maps output column name -> (source Column, converted
    Column). The converted columns are appended/replaced on ``df`` and the
    result written to ``path``. The audit rides the write job: a
    ``DataFrame.observe`` counts, per conversion, the non-null sources that
    became NULL, and keeps the lowest offending row.

    - ``fail_on_nulled=True`` (reference behavior): if anything was nulled,
      drop the staged output, leave ``path`` as it was, and raise
      ConversionError naming the column, the source value and the lowest
      ``id_col`` key among the offending rows.
    - ``fail_on_nulled=False``: publish anyway and return the bad-row
      report (badRecordsPath-style capture), materialized here by
      ``localCheckpoint`` from one more scan of ``df`` over only the
      conversions that nulled values (empty, with no job, if none did).
    """
    from pg2parquet_spark import audit

    options = options or ExportOptions()
    id_col = id_col or audit.first_identifiable_column(df)
    # one evaluation per conversion, into an internal column that both the
    # output column and its offending-row marker read
    convs = [f"__conv{i}" for i in range(len(conversions))]
    marks = [f"__nulled{i}" for i in range(len(conversions))]
    staged = df.select("*", *[c.alias(a) for (_s, c), a in zip(conversions.values(), convs)])
    cols = {}
    for (name, (src, _c)), conv, mark in zip(conversions.items(), convs, marks):
        cols[name] = F.col(conv)
        cols[mark] = audit.nulled_mark(name, src, F.col(conv), id_col)
    staged = staged.withColumns(cols).drop(*convs)

    def refuse_nulled(got: Row) -> None:
        if fail_on_nulled and any(got[m] for m in marks):
            r = got["__first"]
            raise ConversionError(
                f"conversion to column {r.col_name!r} failed: source value "
                f"{r.bad_value!r} became NULL in row with {id_col}={r.row_id!r}"
            )

    metrics = [F.count(c).alias(c) for c in marks]
    metrics.append(F.min(F.array_min(F.array(*marks))).alias("__first"))
    _, got = _export(
        staged, path, options, quiet=False, metrics=metrics, hidden=marks, check=refuse_nulled
    )
    nulled = {n: c for (n, c), m in zip(conversions.items(), marks) if got[m]}
    if not nulled:
        return audit.identify_bad_rows(df, conversions, id_col).limit(0)
    return audit.identify_bad_rows(df, nulled, id_col).localCheckpoint(eager=True)


# leaves compacted at once: each is mostly cluster work, so overlapping them
# keeps the executors busy while one leaf is in its metadata-only publish
_COMPACT_WORKERS = 8
_COMPACT_FILE_BYTES = 512 * 1024 * 1024  # at most, per compacted file


def compact(spark: SparkSession, path: str) -> int:
    """Small-file compaction: rewrite each leaf of the parquet dataset at
    ``path`` into ``ceil(bytes / 512 MiB)`` files and return the number of
    files written.

    A flat dataset is its own single leaf; a hive layout's leaves are its
    deepest ``key=value`` directories, so the partition layout survives.
    Each leaf is round-robin repartitioned and rewritten in place by
    :func:`export` with the default :class:`ExportOptions`, which stages it
    beside the leaf and publishes it by the rename-aside swap of
    :func:`_publish`. The exports are quiet: a meter counts the tasks of
    every active job, and the leaves overlap. A leaf, directory or root
    that a cut-short swap left only as ``.<name>._old`` is restored before
    the walk sizes anything. Leaves run on a driver-side thread pool (Spark
    job submission is thread-safe, and each leaf stages in its own
    directory). Listing and measuring go through the Hadoop FileSystem of
    the path's own scheme, so file://, hdfs:// and s3a:// datasets compact
    alike.
    """
    from concurrent.futures import ThreadPoolExecutor

    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    _restore_aside(spark, fs, path)

    def leaves(p) -> list[str]:
        # a swap cut short leaves a directory only as ``.<name>._old``: put
        # it back first, since no leaf's own publish may touch a sibling
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(".") and name.endswith("._old"):
                _restore_aside(spark, fs, posixpath.join(p.toString(), name[1 : -len("._old")]))
        # readers skip ``.``/``_`` names, and so does the walk: a crashed
        # leaf's ``.p=0._tmp`` is no partition
        parts = [
            st.getPath()
            for st in fs.listStatus(p)
            if st.isDirectory()
            and "=" in st.getPath().getName()
            and not st.getPath().getName().startswith(("_", "."))
        ]
        return [leaf for d in parts for leaf in leaves(d)] or [p.toString()]

    def rewrite(leaf: str) -> int:
        size = sum(n for _f, n in data_files(spark, leaf))
        n_files = max(1, math.ceil(size / _COMPACT_FILE_BYTES))
        return export(spark.read.parquet(leaf).repartition(n_files), leaf, quiet=True).files

    todo = leaves(root)
    with ThreadPoolExecutor(max_workers=min(_COMPACT_WORKERS, len(todo))) as pool:
        return sum(pool.map(rewrite, todo))
