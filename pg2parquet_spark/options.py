"""Export options — mirrors the reference's SchemaSettings / CLI surface.

Reference: `/root/reference/cli/src/main.rs:155-184` (SchemaSettingsArgs,
defaults), `cli/src/postgres_cloner.rs:40-51` (SchemaSettings struct),
`main.rs:228-250` (compression).

Spark deviations (value-preserving, annotation-level only — see README):
- ENUM/JSON/UUID/INTERVAL/Float16 Parquet logical annotations can't be
  emitted by Spark's writer; values are identical.
- LZO is not supported by Spark's Parquet writer → explicit error.
- Decimal precision caps at 38 (the reference's own default; >38 requires
  string mode, same workaround its tests use for numeric(140,100)).
"""

from __future__ import annotations

from dataclasses import dataclass, field

MACADDR_HANDLING = ("text", "byte-array", "int64")
JSON_HANDLING = ("text", "json")  # "json" logical annotation → text in Spark (documented)
ENUM_HANDLING = ("text", "plain-text", "int")
INTERVAL_HANDLING = ("interval", "struct")
NUMERIC_HANDLING = ("decimal", "double", "float32", "string")
ARRAY_HANDLING = ("plain", "dims", "dims-lb")
FLOAT16_HANDLING = ("float32", "float16")
COMPRESSIONS = ("none", "snappy", "gzip", "lzo", "brotli", "lz4", "zstd")

# Spark writer codec names (parquet.compression). LZO intentionally absent.
_SPARK_CODECS = {
    "none": "uncompressed",
    "snappy": "snappy",
    "gzip": "gzip",
    "brotli": "brotli",
    "lz4": "lz4",
    "zstd": "zstd",
}


def _check(value: str, allowed: tuple[str, ...], what: str) -> str:
    if value not in allowed:
        raise ValueError(f"invalid {what}: {value!r}; expected one of {allowed}")
    return value


@dataclass
class ExportOptions:
    """Knobs matching the reference CLI one-for-one (defaults identical)."""

    macaddr_handling: str = "text"      # main.rs:157-159
    json_handling: str = "text"         # main.rs:160-162
    enum_handling: str = "text"         # main.rs:163-165
    interval_handling: str = "interval" # main.rs:166-168
    numeric_handling: str = "double"    # main.rs:169-171
    decimal_scale: int = 18             # main.rs:172-174
    decimal_precision: int = 38         # main.rs:175-177
    array_handling: str = "plain"       # main.rs:178-180
    float16_handling: str = "float32"   # main.rs:181-183
    # float16 mode needs the target columns named: Spark has no 16-bit float
    # type, so f16 sources (halfvec) arrive widened to f32 and the writer
    # cannot tell them from genuine float4 columns. The export post-pass
    # narrows exactly these columns to Parquet FLOAT16 (FLBA-2) via pyarrow.
    float16_columns: tuple[str, ...] = ()
    compression: str = "zstd"           # main.rs:59-64 (default zstd)
    compression_level: int | None = None  # zstd default level 3 in the reference
    # Ours-only (the reference is single-file by construction; at scale you
    # want many files — default keeps Spark's parallel writer):
    single_file: bool = False
    row_group_bytes: int = 500 * 1024 * 1024  # postgres_cloner.rs:305
    # Ours-only sink extension: hive-style partition columns (partition
    # pruning on read at scale).
    partition_by: tuple[str, ...] = ()
    # Global sort before write. With single_file this is the reference's
    # ordered-single-stream shape; without it Spark's range partitioner
    # yields MANY files that are globally ordered end-to-end — the
    # at-scale answer to "ordered output" (SURVEY §7.2/§7.5).
    sort_by: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        _check(self.macaddr_handling, MACADDR_HANDLING, "macaddr_handling")
        _check(self.json_handling, JSON_HANDLING, "json_handling")
        _check(self.enum_handling, ENUM_HANDLING, "enum_handling")
        _check(self.interval_handling, INTERVAL_HANDLING, "interval_handling")
        _check(self.numeric_handling, NUMERIC_HANDLING, "numeric_handling")
        _check(self.array_handling, ARRAY_HANDLING, "array_handling")
        _check(self.float16_handling, FLOAT16_HANDLING, "float16_handling")
        _check(self.compression, COMPRESSIONS, "compression")
        if self.single_file and self.partition_by:
            raise ValueError("single_file and partition_by are mutually exclusive")
        if self.float16_handling == "float16" and not self.float16_columns:
            # honesty over silent acceptance: the flag must never be ignored
            raise ValueError(
                "float16_handling='float16' requires float16_columns naming the "
                "(widened-to-f32) columns to narrow: Spark's writer cannot emit "
                "the FLOAT16 logical type itself, so export() rewrites exactly "
                "those columns to FLBA(2)/Float16 in a pyarrow post-pass "
                "(reference: cli/src/postgres_cloner.rs:660-666)"
            )
        if self.float16_handling == "float32" and self.float16_columns:
            raise ValueError(
                "float16_columns are only narrowed under float16_handling='float16'; "
                "with 'float32' they would be ignored"
            )
        if self.decimal_precision > 38:
            raise ValueError(
                "decimal_precision > 38 is not representable by Spark DecimalType; "
                "use numeric_handling='string' (the reference's own workaround for "
                "numeric wider than 128 bits)"
            )

    @property
    def spark_codec(self) -> str:
        codec = _SPARK_CODECS.get(self.compression)
        if codec is None:
            raise ValueError(
                f"compression {self.compression!r} is not supported by Spark's "
                "Parquet writer (the reference supports it via parquet-rs; "
                "use zstd/snappy/gzip/lz4/brotli/none)"
            )
        return codec
