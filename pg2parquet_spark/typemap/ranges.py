"""PG range types → 5-field struct (postgres_cloner.rs:501-540).

The reference decodes the binary flags byte (empty / inclusive / infinite,
pg_custom_types.rs:100-161). Over text transport a range renders as
``empty`` | ``[lo,hi)`` | ``(,hi]`` | ``(,)`` …, its two bounds quoted by
the same rules as a composite's fields, so they are cut by the one
tokenizer in composites.py: pure Column expressions, JVM-side and
codegen'd, for any subtype's text (a quoted comma, ``""``, a backslash).

Output struct fields exactly match the reference:
{lower, upper, lower_inclusive, upper_inclusive, is_empty}.
PG canonicalizes discrete ranges before we ever see them ([1,3) forms),
same as the reference observes on the wire.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from pg2parquet_spark.typemap.composites import split_fields, struct_or_null

RANGE_FIELDS = ("lower", "upper", "lower_inclusive", "upper_inclusive", "is_empty")


def parse_range(
    col: Column,
    cast_bound: Callable[[Column], Column] = lambda c: c,
) -> Column:
    """Range text → struct(lower, upper, lower_inclusive, upper_inclusive, is_empty).

    ``cast_bound`` converts the bound text to the subtype (e.g.
    ``lambda c: c.cast("int")``). NULL input → NULL struct (≠ empty range).
    """
    is_empty = col.eqNullSafe("empty")  # null-safe: a non-nullable field
    body = F.when(~is_empty, F.substring(col, 2, F.length(col) - 2))
    lower, upper = (cast_bound(b) for b in split_fields(body, 2))
    return struct_or_null(
        col,
        lower.alias("lower"),
        upper.alias("upper"),
        # an absent bound is never inclusive (matches PG canonical output)
        ((F.substring(col, 1, 1) == "[") & lower.isNotNull()).alias("lower_inclusive"),
        (col.endswith("]") & upper.isNotNull()).alias("upper_inclusive"),
        is_empty.alias("is_empty"),
    )
