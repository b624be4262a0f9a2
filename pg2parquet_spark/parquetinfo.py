"""Debug tooling mirroring the reference's hidden subcommand
``pg2parquet parquet-info <file>`` (parquetinfo.rs:36-70): dump schema,
row-group/column metadata, and a bounded sample of values. The write
summary (WriterStats) is the ``ExportReport`` that ``export()`` returns.
"""

from __future__ import annotations


def parquet_info(path: str, max_records: int = 300) -> str:
    """Human-readable dump: schema + per-row-group column stats + values
    (bounded to max_records like the reference's 300-record cap)."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    # the data files a reader reads: a file, or a directory or URI walked
    # recursively, without ``_``/``.`` names (a running write's _temporary)
    dataset = ds.dataset(path, format="parquet")
    out: list[str] = []
    for f in sorted(dataset.files):
        with pq.ParquetFile(f, filesystem=dataset.filesystem) as pf:
            out.append(f"file: {f}")
            out.append(f"  rows={pf.metadata.num_rows} row_groups={pf.num_row_groups} "
                       f"created_by={pf.metadata.created_by!r}")
            out.append("  schema:")
            for col in pf.schema:
                out.append(f"    {col.name}: {col.physical_type}"
                           + (f" / {col.logical_type}" if str(col.logical_type) != "None" else ""))
            for rg in range(pf.num_row_groups):
                meta = pf.metadata.row_group(rg)
                out.append(f"  row group {rg}: rows={meta.num_rows} bytes={meta.total_byte_size}")
                for ci in range(meta.num_columns):
                    c = meta.column(ci)
                    out.append(
                        f"    {c.path_in_schema}: {c.compression} "
                        f"compressed={c.total_compressed_size} raw={c.total_uncompressed_size}"
                    )
            sample = pf.read_row_group(0).slice(0, max_records).to_pylist() if pf.num_row_groups else []
            for i, row in enumerate(sample[:max_records]):
                out.append(f"  [{i}] {row}")
                if i >= 9:  # keep the console dump bounded; full data via readers
                    out.append(f"  … ({len(sample)} sampled records)")
                    break
    return "\n".join(out)

