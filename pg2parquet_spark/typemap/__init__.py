"""Type-mapping operators (SURVEY §2.A) as Spark Column expressions.

Each module re-expresses one family of the reference's per-column conversion
operators. These are *expressions*, never UDFs: they run JVM-side inside
whole-stage codegen, the quoted field grammar of composites and ranges
included (one tokenizer, composites.py::split_fields).
"""

from pg2parquet_spark.typemap.numeric import (
    numeric_to_decimal,
    numeric_to_double,
    numeric_to_float32,
    numeric_to_string,
    money_to_decimal,
)
from pg2parquet_spark.typemap.temporal import (
    time_to_micros,
    interval_to_struct,
    interval_to_flba12,
)
from pg2parquet_spark.typemap.textual import (
    uuid_to_string,
    uuid_string_to_bytes,
    macaddr_to_text,
    macaddr_to_int64,
    int_to_bitstring,
    jsonb_normalize,
)
from pg2parquet_spark.typemap.enums import enum_to_int, enum_to_text
from pg2parquet_spark.typemap.ranges import parse_range, RANGE_FIELDS
from pg2parquet_spark.typemap.composites import parse_composite
from pg2parquet_spark.typemap.arrays import flatten_with_dims
from pg2parquet_spark.typemap.pgvector import parse_vector, parse_sparsevec

# the names perfbench's exotic job calls; they go when a benchmark change
# moves that job to parse_composite
parse_composite_fast = parse_composite
parse_composite_udf = parse_composite

__all__ = [
    "numeric_to_decimal", "numeric_to_double", "numeric_to_float32",
    "numeric_to_string", "money_to_decimal",
    "time_to_micros", "interval_to_struct", "interval_to_flba12",
    "uuid_to_string", "uuid_string_to_bytes", "macaddr_to_text",
    "macaddr_to_int64", "int_to_bitstring", "jsonb_normalize",
    "enum_to_int", "enum_to_text", "parse_range", "RANGE_FIELDS",
    "parse_composite", "flatten_with_dims",
    "parse_vector", "parse_sparsevec",
]
