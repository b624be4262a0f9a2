"""DuckDB-oracle comparison harness.

Mimics the driver's correctness check: run the Spark query and the oracle SQL
side-by-side, compare row count, column-name set, and order-insensitive
values. Used by tests/test_parity.py so the driver's CORRECTNESS gate is
rehearsed locally before every commit.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
from dataclasses import dataclass, field

import os

import duckdb
import pandas as pd

from pg2parquet_spark.tables import TABLES

# cap DuckDB worker threads: a many-branch oracle plan (e.g. the 12-chain
# multi-table IVF recall eval) reserves per-operator buffers PER THREAD,
# and at 32 threads the reservations alone can exhaust the buffer manager
# on an otherwise tiny input (observed r11). Shared by every oracle
# connection (here and tools/selfcheck.py) so the cap can't drift; the
# min() keeps small-core hosts at their natural width instead of
# oversubscribing them.
ORACLE_DUCKDB_THREADS = min(os.cpu_count() or 16, 16)


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {ORACLE_DUCKDB_THREADS}")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    """Normalize a cell to a comparable python value."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if type(v).__name__ == "ndarray":
        return tuple(_canon_cell(x) for x in v.tolist())
    # numpy scalars → python
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, decimal.Decimal):
        return v  # Decimal compares numerically against Decimal
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    return v


def canonicalize(df: pd.DataFrame) -> list[tuple]:
    """Columns sorted by name; rows as canonical tuples sorted by repr."""
    cols = sorted(df.columns)
    rows = [
        tuple(_canon_cell(row[c]) for c in cols)
        for _, row in df[cols].iterrows()
    ]
    rows.sort(key=lambda r: tuple(repr(x) for x in r))
    return rows


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    mismatches: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK" if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for m in self.mismatches[:10]:
            msg += f"\n    {m}"
        return msg


def compare(name: str, spark_df, oracle_pdf: pd.DataFrame) -> CompareResult:
    spark_pdf = spark_df.toPandas()
    res = CompareResult(name=name, ok=True, spark_rows=len(spark_pdf), oracle_rows=len(oracle_pdf))

    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        res.ok = False
        res.mismatches.append(f"columns differ: spark={s_cols} oracle={o_cols}")
        return res
    if len(spark_pdf) != len(oracle_pdf):
        res.ok = False
        res.mismatches.append("row counts differ")
        return res

    s_rows = canonicalize(spark_pdf)
    o_rows = canonicalize(oracle_pdf)
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        # repr-level equality: int64 5 vs float64 5.0 must NOT pass (the
        # driver's value-hash is representation-sensitive)
        if tuple(repr(x) for x in sr) != tuple(repr(x) for x in orow):
            res.ok = False
            res.mismatches.append(f"row {i}: spark={sr!r} oracle={orow!r}")
            if len(res.mismatches) >= 5:
                break
    return res


def run_compare(spark, sf_dir: str, name: str) -> CompareResult:
    from pg2parquet_spark.registry import load_all

    spec = load_all()[name]
    sdf = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        cnt = sdf.count()
        return CompareResult(name=name, ok=True, spark_rows=cnt, oracle_rows=-1,
                             mismatches=["(no oracle: rows-only check)"])
    con = duckdb_connection(sf_dir)
    try:
        opdf = con.execute(spec.oracle).df()
    finally:
        con.close()
    return compare(name, sdf, opdf)
