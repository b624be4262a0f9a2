"""Debug tooling mirroring the reference's hidden subcommand
``pg2parquet parquet-info <file>`` (parquetinfo.rs:36-70): dump schema,
row-group/column metadata, and the first records of each file. The write
summary (WriterStats) is the ``ExportReport`` that ``export()`` returns.
"""

from __future__ import annotations

_SHOWN = 10  # records printed per file, from row group 0; full data via readers


def parquet_info(path: str) -> str:
    """Human-readable dump: schema + per-row-group column stats + the first
    ``_SHOWN`` records of row group 0 and that group's row count."""
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
            if not pf.num_row_groups:
                continue
            # decode only the rows printed, not the whole group
            head = next(pf.iter_batches(batch_size=_SHOWN, row_groups=[0]), None)
            for i, row in enumerate(head.to_pylist() if head is not None else []):
                out.append(f"  [{i}] {row}")
            rows = pf.metadata.row_group(0).num_rows
            if rows > _SHOWN:
                out.append(f"  … ({rows} records in row group 0)")
    return "\n".join(out)

