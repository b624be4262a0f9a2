"""Query registry — the single source of truth for the driver contract.

Every implemented operator gets a named entry: a Spark callable
``(spark, sf_dir) -> DataFrame`` and (where SQL-expressible) an equivalent
ANSI-SQL oracle string that DuckDB runs on the same parquet tables.
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this.

Determinism contract (what makes the driver's order-insensitive value-hash
match): every computed column is (a) integer/string/timestamp arithmetic,
(b) exact DECIMAL arithmetic (all money-ish doubles in the corpus are exact
2-decimal values, so ``CAST(x AS DECIMAL(p,2))`` is lossless), or
(c) a float expression whose evaluation order is fixed and identical in both
engines (e.g. an unrolled dot product). Free-running ``SUM(double)`` is never
compared — partial-aggregation order would make it nondeterministic even
between two Spark runs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query under ``name`` with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (registration side effect) and return a
    copy of the registry in registration order."""
    from pg2parquet_spark import typemap_queries  # noqa: F401
    from pg2parquet_spark import export_queries  # noqa: F401
    from pg2parquet_spark.streaming import queries as streaming_queries  # noqa: F401
    from pg2parquet_spark.operators import (  # noqa: F401
        similarity,
        asof,
        curation,
        dedup,
        features,
        graph,
        sketch,
        skew,
        multimodal,
        text,
        quality,
        layout,
        relational,
    )

    return dict(REGISTRY)
