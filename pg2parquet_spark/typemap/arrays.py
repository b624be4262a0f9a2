"""Multidimensional array flatten + dims/lower_bound (SURVEY A32).

Reference (`datatypes/array.rs:22-62`, `postgres_cloner.rs:843-893`):
Parquet has no N-D arrays, so pg2parquet flattens to 1-D; `--array-handling`
optionally adds sibling lists:
- dims:        [d1, d2, …] per level; defaults to [len] for a non-empty 1-D
               array; [] for an empty array; NULL for NULL.
- lower_bound: PG per-dimension lower bounds; default 1s ([] when empty).

PG arrays are rectangular, so dims derive from sizes along the first
element chain. Explicit bounds (``'[-2:0]={1,2,3}'`` literals) only survive
text transport — parse them server-side with array_dims()/array_lower()
(SURVEY §7.3 step 4 strategy) and feed them here as columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dims(col: Column, ndims: int) -> Column:
    sizes = []
    cur = col
    for _ in range(ndims):
        sizes.append(F.size(cur))
        cur = F.element_at(cur, 1)
    # empty outer array → dims [] (reference: zero dims); guard each level
    dims_arr = F.array(*sizes)
    return F.when(col.isNull(), F.lit(None)).when(
        F.size(col) == 0, F.array().cast("array<int>")
    ).otherwise(F.filter(dims_arr, lambda s: s >= 0).cast("array<int>"))


def _flatten(col: Column, ndims: int) -> Column:
    cur = col
    for _ in range(ndims - 1):
        cur = F.flatten(cur)
    return cur


def flatten_with_dims(
    col: Column,
    ndims: int,
    array_handling: str = "plain",
    lower_bound: Column | None = None,
) -> Column:
    """N-D array column → flat list ('plain'), or struct with metadata:
    'dims' → {data, dims}; 'dims-lb' → {data, dims, lower_bound}.
    """
    flat = _flatten(col, ndims)
    if array_handling == "plain":
        return flat
    dims = _dims(col, ndims)
    if lower_bound is None:
        lower_bound = F.when(col.isNull(), F.lit(None)).otherwise(
            F.transform(dims, lambda _: F.lit(1))
        )
    if array_handling == "dims":
        return F.when(col.isNull(), F.lit(None)).otherwise(
            F.struct(flat.alias("data"), dims.alias("dims"))
        )
    if array_handling == "dims-lb":
        return F.when(col.isNull(), F.lit(None)).otherwise(
            F.struct(
                flat.alias("data"),
                dims.alias("dims"),
                lower_bound.cast("array<int>").alias("lower_bound"),
            )
        )
    raise ValueError(f"unknown array_handling {array_handling!r}")


def parse_array_text(col: Column, spark_type: str) -> Column:
    """PG array-literal TEXT → nested Spark array (wire-transport decode).

    COPY ships a multidim column as its array text — ``'{{1,2},{3,4}}'`` —
    and `pgcopy.rewrite_query_for_exotics` adds a sibling ``array_dims``
    column; this is the client-side decode for the
    value text: brace→bracket translation + from_json, e.g.
    ``parse_array_text(c, "array<array<int>>")``. Valid for NUMERIC/BOOLEAN
    subtypes (their literals contain no braces/quotes); text subtypes need a
    quote-aware tokenizer for array literals, which PG quotes and nests unlike
    composites.py's field grammar — refuse them upstream rather than
    mis-parse. Pure Column expressions, codegen'd, NULL-safe (from_json of
    NULL is NULL).
    """
    return F.from_json(F.translate(col, "{}", "[]"), spark_type)
