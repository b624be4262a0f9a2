"""Conversion audit — the reference's error-row identification, Spark-shaped.

The reference aborts on a bad row and prints the first identifiable column
value of the offending row (postgresutils.rs:4-51). A distributed engine
can't usefully abort per-row; our conversion layer's contract is
NULL-on-invalid (try_cast semantics, matching the reference's documented
NULL-on-overflow/NaN paths). This module makes those casualties *visible*.
The audit rides the write: ``export.export_audited`` observes
:func:`nulled_mark` over the rows it writes, which gives per converted
column how many non-null inputs became NULL and the lowest offending row —
the distributed analog of "error in row with id=X" — with no extra scan.
:func:`identify_bad_rows` lists every offending row when a caller wants them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def nulled_mark(name: str, src: Column, conv: Column, id_col: str) -> Column:
    """The offending-row marker of one conversion: the struct
    ``(row_id, col_name, bad_value)`` where a non-null ``src`` became a NULL
    ``conv``, else NULL. Structs order by ``row_id`` first, so ``min`` over
    the markers is the lowest offending row."""
    return F.when(
        src.isNotNull() & conv.isNull(),
        F.struct(
            F.col(id_col).alias("row_id"),
            F.lit(name).alias("col_name"),
            src.cast("string").alias("bad_value"),
        ),
    )


def first_identifiable_column(df: DataFrame) -> str:
    """The reference's 'first identifiable column' rule (postgresutils.rs:4-51):
    when reporting the offending row, use the first column whose value can be
    rendered as text — we take the first atomic-typed (non-binary, non-nested)
    column in schema order."""
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if isinstance(
            field.dataType,
            (
                T.StringType,
                T.IntegerType,
                T.LongType,
                T.ShortType,
                T.ByteType,
                T.DoubleType,
                T.FloatType,
                T.DecimalType,
                T.DateType,
                T.TimestampType,
                T.TimestampNTZType,
                T.BooleanType,
            ),
        ):
            return field.name
    raise ValueError("no identifiable (atomic, non-binary) column in schema")


def identify_bad_rows(
    df: DataFrame,
    conversions: dict[str, tuple[Column, Column]],
    id_col: str,
) -> DataFrame:
    """Error-ROW identification (A37, ref cli/src/postgresutils.rs:4-51): for
    every row where a conversion turned a non-null source value into NULL,
    emit ``(col_name, row_id, bad_value)`` — the distributed analog of the
    reference printing "error in row with <first identifiable column>=X".

    One map-side pass: each row builds a null-compacted array of offending
    (column, value) structs, explode drops clean rows entirely — no join, no
    shuffle, scales as a pure filter.
    """
    marks = [nulled_mark(name, src, conv, id_col) for name, (src, conv) in conversions.items()]
    arr = F.filter(F.array(*marks), lambda x: x.isNotNull())
    return df.select(F.explode(arr).alias("m")).select("m.col_name", "m.row_id", "m.bad_value")
