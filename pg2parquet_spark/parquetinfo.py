"""Debug tooling mirroring the reference's hidden subcommands.

- `parquet_info` ≙ `pg2parquet parquet-info <file>` (parquetinfo.rs:36-70):
  dump schema, row-group/column metadata, and a bounded sample of values.
- `write_stats` ≙ the progress/summary meter (parquet_writer.rs:100-165,
  WriterStats): rows, output bytes, row groups, rows/s — printed after an
  export unless quiet.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass


def _files(path: str) -> list[str]:
    if os.path.isdir(path):  # recursive: a partition_by export nests its files
        return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return [path]


def parquet_info(path: str, max_records: int = 300) -> str:
    """Human-readable dump: schema + per-row-group column stats + values
    (bounded to max_records like the reference's 300-record cap)."""
    import pyarrow.parquet as pq

    out: list[str] = []
    for f in _files(path):
        pf = pq.ParquetFile(f)
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


@dataclass
class WriteStats:
    rows: int
    output_bytes: int
    files: int
    row_groups: int
    seconds: float

    @property
    def rows_per_sec(self) -> float:
        return self.rows / self.seconds if self.seconds > 0 else float("inf")

    def __str__(self) -> str:
        mib = self.output_bytes / (1024 * 1024)
        return (
            f"Wrote {self.rows} rows / {mib:.2f} MiB in {self.files} file(s), "
            f"{self.row_groups} row group(s), {self.seconds:.2f}s "
            f"({self.rows_per_sec:,.0f} rows/s)"
        )


def write_stats(path: str, started_at: float) -> WriteStats:
    """Collect the reference's summary counters from the written dataset."""
    import pyarrow.parquet as pq

    rows = 0
    bytes_ = 0
    groups = 0
    files = _files(path)
    for f in files:
        pf = pq.ParquetFile(f)
        rows += pf.metadata.num_rows
        groups += pf.num_row_groups
        bytes_ += os.path.getsize(f)
    return WriteStats(
        rows=rows,
        output_bytes=bytes_,
        files=len(files),
        row_groups=groups,
        seconds=time.time() - started_at,
    )
