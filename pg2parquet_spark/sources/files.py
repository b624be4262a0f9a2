"""Generic file sources beyond the PG/parquet pair.

The reference reads exactly one source (PostgreSQL); its README points users
at DuckDB/Spark for post-processing other formats (README.md:86-89). Here the
engine accepts any Spark-readable file format as a query source, so fixture
dirs can mix formats: `<table>.parquet|csv|json|jsonl|orc` all register as
views.

Scale notes: CSV/JSON are line-splittable (gz is not — a 100 TB landing zone
should use bzip2/zstd-seekable or many files); a schema not supplied is
inferred, which reads the data once more; every view is still a lazy scan,
so Catalyst prunes columns and (for parquet/orc) pushes predicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pg2parquet_spark.tables import NANOS_AS_LONG, events_ts

_EXT_FORMAT = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".orc": "orc",
}


def read_table(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """Read one table from a file/dir in the format its extension names.

    CSV has a header row; without ``schema`` its types are inferred (pass an
    explicit ``schema`` in production — inference reads data twice).
    """
    fmt = _EXT_FORMAT.get(os.path.splitext(path)[1].lower())
    if fmt is None:
        raise ValueError(
            f"cannot infer source format from {path!r}; expected one of {sorted(_EXT_FORMAT)}"
        )
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", schema is None)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def register_file_views(spark: SparkSession, directory: str) -> list[str]:
    """Register every recognized file in ``directory`` as a temp view named
    after its stem. Mixed formats coexist; parquet wins on stem collisions."""
    # events-style fixtures carry TIMESTAMP(NANOS) parquet columns, which the
    # vectorized reader rejects without this conf (see tables.events_ts)
    spark.conf.set(NANOS_AS_LONG, "true")
    chosen: dict[str, str] = {}
    for fname in sorted(os.listdir(directory)):
        stem, ext = os.path.splitext(fname)
        if ext.lower() not in _EXT_FORMAT:
            continue
        if stem in chosen and chosen[stem].endswith(".parquet"):
            continue
        chosen[stem] = os.path.join(directory, fname)
    for stem, path in chosen.items():
        df = read_table(spark, path)
        if stem == "events":
            df = events_ts(df)
        df.createOrReplaceTempView(stem)
    return sorted(chosen)
