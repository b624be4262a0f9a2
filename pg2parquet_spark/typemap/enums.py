"""Enum handling — the reference's three modes (postgres_cloner.rs:437-452).

- text: label string with Parquet ENUM annotation (annotation not emittable
  by Spark → plain string, values identical; the reference's own tests show
  readers disagree on the annotation anyway — Polars sees Binary).
- plain-text: label string, no annotation → identical to ours.
- int: 1-based ordinal in type-declaration order (pg_custom_types.rs:13-31
  builds the HashMap from type metadata; unknown label panics there — we
  surface NULL and offer a strict variant).

The label list comes from the PG catalog (`pg_enum` ordered by
enumsortorder) via ``pgcopy.ENUM_LABELS_SQL`` through ``pgcopy.run_sql``, or is
supplied directly in tests.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def enum_to_text(col: Column) -> Column:
    return col.cast("string")


def enum_to_int(col: Column, labels: Sequence[str], strict: bool = False) -> Column:
    """Label → 1-based ordinal per the declaration order.

    A literal map keeps this a pure expression (constant-folded by Catalyst,
    broadcast with the plan — no join, no shuffle, valid at any scale since
    PG enums are bounded small).
    """
    pairs: list[Column] = []
    for i, label in enumerate(labels, start=1):
        pairs.append(F.lit(label))
        pairs.append(F.lit(i))
    ordinal = F.element_at(F.create_map(*pairs), col.cast("string"))
    if strict:
        ordinal = F.when(col.isNotNull() & ordinal.isNull(), F.raise_error(
            F.concat(F.lit("unknown enum label: "), col.cast("string"))
        )).otherwise(ordinal)
    return ordinal.cast("int")
