"""Parquet sink (SURVEY §2.A A5-A8) — Spark's writer, configured.

The reference hand-rolls a streaming columnar writer (appenders +
level_index + parquet_writer.rs). All of that machinery is internal to
Spark's ParquetOutputWriter; what we reproduce is the *configuration
surface*:

- compression codec map incl. levels (main.rs:228-250; zstd level 3 default)
- row-group sizing: 500 MiB raw / parquet.block.size (postgres_cloner.rs:305)
- overwrite-on-exists (main.rs output_file docs)
- optional single-file output (the reference is single-file by construction;
  at 100 TB you want many files — single_file=False default keeps the
  parallel writer, one file per task)

Deviations (documented, value-preserving): LZO unsupported by Spark's
writer (hard error, same contract); `created_by` metadata not settable.

Ordering (SURVEY §7.2): with single_file=True the input's sort order is
preserved — sort first, then coalesce(1) keeps one ordered partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pg2parquet_spark.options import ExportOptions


def export(
    df: DataFrame, path: str, options: ExportOptions | None = None, quiet: bool = False
) -> None:
    """Write ``df`` to ``path`` per the export options (parquet default).

    Like the reference, a live progress meter (A36: MiB written, MiB/s, task
    completion — ref cli/src/parquet_writer.rs:100-151) prints to stderr
    during the write by default; ``quiet=True`` (CLI ``--quiet``) suppresses.
    """
    from contextlib import nullcontext

    from pg2parquet_spark.progress import ProgressReporter

    options = options or ExportOptions()
    if options.sort_by:
        df = df.orderBy(*options.sort_by)
    out = df.coalesce(1) if options.single_file else df
    writer = out.write.mode("overwrite")
    if options.output_format == "parquet":
        codec = options.spark_codec  # raises for lzo — same error contract as writer absence
        writer = writer.option("compression", codec).option(
            "parquet.block.size", str(options.row_group_bytes)
        )
        if options.compression == "zstd" and options.compression_level is not None:
            writer = writer.option(
                "parquet.compression.codec.zstd.level", str(options.compression_level)
            )
    if options.partition_by:
        # hive-style layout: readers get partition pruning on these columns
        writer = writer.partitionBy(*options.partition_by)
    meter = nullcontext() if quiet else ProgressReporter(df.sparkSession, path)
    with meter:
        if options.output_format == "parquet":
            writer.parquet(path)
        elif options.output_format == "csv":
            writer.option("header", "true").csv(path)
        elif options.output_format == "json":
            writer.json(path)
        else:
            writer.orc(path)
    if options.output_format == "parquet" and options.float16_handling == "float16":
        _narrow_to_float16(df.sparkSession, path, options)


def _fs_from_root_uri(root_uri):
    """Task-side filesystem resolution for the float16 rewrite: ALWAYS from
    the export root's original URI (scheme+authority pick the backend),
    NEVER from a per-file listing path — ``from_uri`` would misparse the
    scheme-less paths ``get_file_info`` returns for remote stores (e.g.
    ``bucket/key/part.parquet`` for s3://) as local relative paths. Kept as
    a seam so the mock-remote integration test can pin exactly this
    contract (tests/test_export.py::test_float16_remote_uri_*)."""
    from pyarrow import fs as pafs

    if root_uri is None:
        return pafs.LocalFileSystem()
    return pafs.FileSystem.from_uri(root_uri)[0]


def _rewrite_one_float16(path: str, root_uri: str | None, wanted: frozenset, codec: str) -> str:
    """Rewrite ONE parquet file's ``wanted`` columns to Float16 (FLBA-2).

    Runs as a Spark TASK — never on the driver: the file list of a 100 TB
    export is thousands of files, and a serial driver loop over read_table/
    write_table would be the export's long pole. The guard below pins that
    contract (and the pytest relies on it).

    ``path`` is the filesystem-native path as returned by the DRIVER's
    ``get_file_info`` listing (scheme-less, e.g. ``bucket/key/part.parquet``
    for s3://). The filesystem is therefore reconstructed from ``root_uri``
    — the export root's original URI, whose scheme+authority resolve the
    right backend — never ``from_uri(path)``, which would misparse a
    scheme-less listing path as local.

    Crash safety: a task killed mid-write (speculation, preemption, OOM)
    must not leave a truncated file for the retry to trip over, so the
    rewrite lands at ``<path>.f16tmp`` and is renamed into place, mirroring
    :func:`compact`'s rename-aside swap. A retry that finds a stale tmp
    simply overwrites it.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    if TaskContext.get() is None:
        raise RuntimeError("float16 narrowing must run as a Spark task, not on the driver")
    fsys = _fs_from_root_uri(root_uri)
    t = pq.read_table(path, filesystem=fsys)
    cols = {}
    for name in t.schema.names:
        col = t[name]
        if name in wanted:
            typ = col.type
            if pa.types.is_float32(typ) or pa.types.is_float64(typ):
                col = pc.cast(col, pa.float16())
            elif pa.types.is_list(typ):
                col = pc.cast(col, pa.list_(pa.float16()))
            else:
                raise ValueError(
                    f"float16_columns: column {name!r} has non-float type {typ}"
                )
        cols[name] = col
    tmp = path + ".f16tmp"
    pq.write_table(
        pa.table(cols),
        tmp,
        filesystem=fsys,
        compression="none" if codec == "uncompressed" else codec,
    )
    fsys.move(tmp, path)
    return path


def _narrow_to_float16(spark: SparkSession, path: str, options: ExportOptions) -> None:
    """A35 float16 mode (ref cli/src/postgres_cloner.rs:660-666): rewrite the
    named columns to the Parquet FLOAT16 logical type (FLBA-2).

    Spark's writer has no 16-bit float type, so f16 sources travel widened
    to f32 (exactly — PG already rounded them to half precision) and this
    pyarrow post-pass narrows the storage back per file. The driver only
    LISTS the files; the per-file read→cast→write runs distributed, one
    Spark task per file (`sc.parallelize(files, len(files))`), so the pass
    scales with the cluster instead of serializing on the driver.
    """
    from pyarrow import fs as pafs

    # Resolve the filesystem ONCE from the export root's full URI; tasks get
    # that same root URI (not the scheme-less per-file listing paths, which
    # from_uri would misparse) and rebuild an equivalent filesystem from it.
    root_uri: str | None = path if "://" in path else None
    if root_uri is not None:
        fsys, root = pafs.FileSystem.from_uri(path)
    else:
        fsys, root = pafs.LocalFileSystem(), path
    files = [
        fi.path
        for fi in fsys.get_file_info(pafs.FileSelector(root, recursive=True))
        if fi.is_file and fi.path.endswith(".parquet")
    ]
    if not files:
        return
    wanted = frozenset(options.float16_columns)
    codec = options.spark_codec  # same name space as pyarrow's
    sc = spark.sparkContext
    done = (
        sc.parallelize(files, len(files))
        .map(lambda f: _rewrite_one_float16(f, root_uri, wanted, codec))
        .collect()  # bounded: one path string per file
    )
    if sorted(done) != sorted(files):
        raise RuntimeError("float16 narrowing: task results do not cover the file list")


class ConversionError(RuntimeError):
    """A conversion silently nulled a non-null source value during export.

    Mirrors the reference's abort-with-row-identification contract
    (cli/src/postgresutils.rs:4-51): the message carries the first
    identifiable key of the first offending row.
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
    result written to ``path``. Before writing, a map-side audit pass finds
    rows where a conversion turned a non-null source into NULL:

    - ``fail_on_nulled=True`` (reference behavior): raise ConversionError
      naming the offending column and the first identifiable key of the
      first offending row — the distributed analog of the reference
      printing the failing row before aborting.
    - ``fail_on_nulled=False``: write anyway and return the full bad-row
      report DataFrame (badRecordsPath-style capture) for the caller to
      persist next to the dataset.
    """
    from pg2parquet_spark import audit

    # ONE source scan feeds audit + write + (capture mode) the report: for a
    # COPY source, audit-then-write without a cache point re-reads the whole
    # Postgres table per consumer. Persist for the duration, release on exit.
    df = df.persist()
    try:
        id_col = id_col or audit.first_identifiable_column(df)
        bad = audit.identify_bad_rows(df, conversions, id_col)
        if fail_on_nulled:
            first = bad.limit(1).collect()  # bounded: one row
            if first:
                r = first[0]
                raise ConversionError(
                    f"conversion to column {r.col_name!r} failed: source value "
                    f"{r.bad_value!r} became NULL in row with {id_col}={r.row_id!r}"
                )
        else:
            # materialize the report off the cached source NOW — the caller
            # consumes it after df is unpersisted, which would otherwise be
            # a third full read of the source. localCheckpoint (not persist):
            # it truncates lineage so the report outlives the source cache,
            # and its blocks are released by the ContextCleaner when the
            # frame is garbage-collected — a persist() here would leak
            # executor storage for the session lifetime unless every caller
            # remembered to unpersist the returned frame.
            bad = bad.localCheckpoint(eager=True)
        out = df
        for name, (_src, conv) in conversions.items():
            out = out.withColumn(name, conv)
        export(out, path, options)
        return bad
    finally:
        df.unpersist()


def export_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as a bucketed+sorted managed parquet table.

    The scale story: two tables bucketed on their join key by the same
    bucket count join WITHOUT a shuffle (SortMergeJoin reads co-located
    buckets directly) — the Spark analog of co-partitioned storage. Used for
    fact tables that are joined repeatedly on the same key; verified
    shuffle-free by tests/test_export.py::test_bucketed_join_no_shuffle.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    writer.saveAsTable(table_name)


def export_query(
    spark: SparkSession, query: str, path: str, options: ExportOptions | None = None
) -> DataFrame:
    """Reference main path: one SQL query → one Parquet dataset.

    The query runs against whatever sources are registered in the session
    (temp views over ``pgcopy.read`` frames, or parquet fixture views).
    Returns the DataFrame for inspection (schema printing — A36's analog is
    Spark's own UI/listener; ``df.schema`` mirrors format_schema).
    """
    df = spark.sql(query)
    export(df, path, options)
    return df


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 512,
    options: ExportOptions | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~target_file_mb. The many-small-files problem is the chronic failure
    mode of incremental ingestion at scale (every NameNode/footer-read
    scales with file count); this is the maintenance pass that fixes it.

    File count = ceil(current_bytes / target); data is round-robin
    repartitioned so output files are uniform. Returns the new file count.

    Crash safety: the rewrite lands in a temp dir, then the swap is
    rename-aside (src → src._compact_old), rename-into-place (tmp → src),
    delete-old-last — at every instant the data exists in full at src, the
    old path, or the tmp path, and a failed rename-in rolls the old dir
    back. (delete-then-rename would leave src EMPTY if the process died
    between the two.)

    Hive-partitioned datasets are rejected explicitly: a flat repartition
    would destroy the partition layout (and a non-recursive size probe
    would see 0 bytes and compact 100 TB into one file). Partition-wise
    compaction is `compact(part_dir)` per leaf directory.

    All listing/measuring/deleting/renaming goes through the Hadoop
    FileSystem API resolved from the path's own scheme — so the same code
    compacts file://, hdfs:// and s3a:// datasets (the 100 TB deployment is
    never a local filesystem; glob/os/shutil would silently report 0 bytes
    there and delete nothing real).
    """
    import math

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(hconf)

    for st in fs.listStatus(src):
        if st.isDirectory() and "=" in st.getPath().getName():
            raise ValueError(
                f"compact: {path} is hive-partitioned ({st.getPath().getName()!r}); "
                "flat compaction would drop the partition layout — compact each "
                "leaf partition directory instead"
            )

    def parquet_sizes(p) -> list[int]:
        sizes = []
        it = fs.listFiles(p, True)  # recursive: nested task dirs still count
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                sizes.append(st.getLen())
        return sizes

    current_bytes = sum(parquet_sizes(src))
    n_files = max(1, math.ceil(current_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp_str = path.rstrip("/") + "._compact_tmp"
    export(df.repartition(n_files), tmp_str, options)
    tmp = jvm.org.apache.hadoop.fs.Path(tmp_str)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "._compact_old")
    fs.delete(old, True)  # stale leftover from a previous crashed compaction
    if not fs.rename(src, old):
        raise IOError(f"compact: could not move {path} aside; dataset untouched")
    if not fs.rename(tmp, src):
        fs.rename(old, src)  # roll back: restore the original dataset
        raise IOError(f"compact: rename {tmp_str} -> {path} failed; dataset restored")
    fs.delete(old, True)
    return len(parquet_sizes(src))


def compact_partitioned(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 512,
    options: ExportOptions | None = None,
    max_concurrency: int = 8,
) -> dict[str, int]:
    """Partition-wise compaction for hive-layout datasets: walk the
    ``key=value`` directory tree to its leaves and run :func:`compact` on
    each leaf independently. The partition layout is untouched — each leaf
    is rewritten in place through the same crash-safe rename-aside swap.

    Returns {leaf path: new file count}. Leaves are independent, so they run
    ``max_concurrency`` at a time through a driver-side thread pool: each
    leaf's work is mostly cluster work (a read+repartition+write job), so
    overlapping leaves keeps the executors busy while one leaf is in its
    metadata-only rename phase. Spark job submission is thread-safe; each
    leaf writes to its own tmp dir, so no two threads ever touch the same
    path. ``max_concurrency=1`` degrades to the sequential loop.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)

    leaves: list[str] = []

    def walk(p) -> None:
        subdirs = [
            st.getPath()
            for st in fs.listStatus(p)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if subdirs:
            for d in subdirs:
                walk(d)
        elif p is not root:
            leaves.append(p.toString())

    walk(root)
    if not leaves:
        raise ValueError(
            f"compact_partitioned: {path} has no key=value partition dirs — "
            "use compact() for flat datasets"
        )
    if max_concurrency <= 1 or len(leaves) == 1:
        return {leaf: compact(spark, leaf, target_file_mb, options) for leaf in leaves}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_concurrency, len(leaves))) as pool:
        counts = list(
            pool.map(lambda leaf: compact(spark, leaf, target_file_mb, options), leaves)
        )
    return dict(zip(leaves, counts))
