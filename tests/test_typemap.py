"""Typemap layer unit tests — literal-row fixtures mirroring the reference's
py-tests (FIXTURES.md F5-F21 distillations). Checks values AND the
load-bearing null semantics: [] ≠ NULL ≠ [NULL] (SURVEY §1.5)."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Row
from pyspark.sql import functions as F

from pg2parquet_spark import typemap as tm


def one_col(spark, values, dtype="string"):
    return spark.createDataFrame([(v,) for v in values], schema=f"v {dtype}")


# ---------------------------------------------------------------- numeric --
def test_numeric_decimal_nan_null_overflow(spark):
    # F6: NaN → NULL; overflow → NULL; rescale to (p,s)
    df = one_col(spark, ["1000.0001", "NaN", None, "1" + "0" * 30])
    out = df.select(tm.numeric_to_decimal(F.col("v"), 38, 18).alias("d")).collect()
    assert out[0].d == Decimal("1000.000100000000000000")
    assert out[1].d is None
    assert out[2].d is None
    assert out[3].d is None  # 1e30 needs 31+18 digits > 38 → NULL like the reference


def test_numeric_decimal_narrow(spark):
    df = one_col(spark, ["1000.0001"])
    out = df.select(tm.numeric_to_decimal(F.col("v"), 9, 4).alias("d")).collect()
    assert out[0].d == Decimal("1000.0001")


def test_numeric_double_float_string(spark):
    df = one_col(spark, ["1000.0001", "NaN"])
    r = df.select(
        tm.numeric_to_double(F.col("v")).alias("d"),
        tm.numeric_to_float32(F.col("v")).alias("f"),
        tm.numeric_to_string(F.col("v")).alias("s"),
    ).collect()
    assert r[0].d == 1000.0001
    assert abs(r[0].f - 1000.0001220703125) < 1e-9  # F6 float32 value
    assert r[0].s == "1000.0001"
    assert r[1].d != r[1].d  # NaN
    assert r[1].s == "NaN"


def test_money(spark):
    df = one_col(spark, [123456, -50, None], "long")
    r = df.select(tm.money_to_decimal(F.col("v")).alias("m")).collect()
    assert r[0].m == Decimal("1234.56")
    assert r[1].m == Decimal("-0.50")
    assert r[2].m is None


# --------------------------------------------------------------- temporal --
def test_time_to_micros(spark):
    df = one_col(spark, ["12:34:56", "00:00:00.000001", None])
    r = df.select(tm.time_to_micros(F.col("v")).alias("us")).collect()
    assert r[0].us == (12 * 3600 + 34 * 60 + 56) * 1_000_000
    assert r[1].us == 1
    assert r[2].us is None


def test_interval_struct_and_flba12(spark):
    # F10: '1 year 2 months 1 day 40:05:06.000001' → months=14 days=1
    # micros=144306000001; FLBA mode overflows 40h into +1 day, µs→ms lossy.
    df = spark.createDataFrame([Row(m=14, d=1, us=144306000001)])
    r = df.select(
        tm.interval_to_struct(F.col("m"), F.col("d"), F.col("us")).alias("s"),
        tm.interval_to_flba12(F.col("m"), F.col("d"), F.col("us")).alias("b"),
    ).collect()[0]
    assert r.s.asDict() == {"months": 14, "days": 1, "microseconds": 144306000001}
    months_le = (14).to_bytes(4, "little", signed=True)
    days_le = (2).to_bytes(4, "little", signed=True)  # 1 + 1 overflowed day
    millis_le = (57906000).to_bytes(4, "little", signed=True)  # 16:05:06 in ms
    assert bytes(r.b) == months_le + days_le + millis_le


def test_interval_flba12_negative(spark):
    df = spark.createDataFrame([Row(m=-1, d=0, us=-1500)])  # -1.5ms → -1ms (trunc)
    r = df.select(tm.interval_to_flba12(F.col("m"), F.col("d"), F.col("us")).alias("b")).collect()[0]
    exp = (-1).to_bytes(4, "little", signed=True) + (0).to_bytes(4, "little", signed=True) + (-1).to_bytes(4, "little", signed=True)
    assert bytes(r.b) == exp


# ---------------------------------------------------------------- textual --
def test_uuid_roundtrip(spark):
    u = "0000000a-000b-000c-000d-e00000000001"  # F8
    df = one_col(spark, [u, None])
    r = df.select(
        tm.uuid_to_string(tm.uuid_string_to_bytes(F.col("v"))).alias("u")
    ).collect()
    assert r[0].u == u
    assert r[1].u is None


def test_macaddr(spark):
    raw = bytes([0x08, 0x00, 0x2B, 0x01, 0x02, 0x03])
    df = spark.createDataFrame([(raw,)], schema="v binary")
    r = df.select(
        tm.macaddr_to_text(F.col("v")).alias("t"),
        tm.macaddr_to_int64(F.col("v")).alias("i"),
    ).collect()[0]
    assert r.t == "08:00:2b:01:02:03"
    assert r.i == 0x08002B010203


def test_bitstring(spark):
    df = one_col(spark, [40, 5, None], "int")
    r = df.select(tm.int_to_bitstring(F.col("v"), 6).alias("b")).collect()
    assert r[0].b == "101000"  # F11
    assert r[1].b == "000101"
    assert r[2].b is None


def test_jsonb_normalize(spark):
    good = bytes([1]) + b'{"jsonb": true}'
    bad = bytes([2]) + b"{}"
    df = spark.createDataFrame([(good,), (bad,), (None,)], schema="v binary")
    r = df.select(tm.jsonb_normalize(F.col("v")).alias("j")).collect()
    assert r[0].j == '{"jsonb": true}'
    assert r[1].j is None
    assert r[2].j is None


# ------------------------------------------------------------------ enums --
WEEKDAYS = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]


def test_enum_to_int(spark):
    df = one_col(spark, ["monday", "sunday", "noday", None])
    r = df.select(tm.enum_to_int(F.col("v"), WEEKDAYS).alias("o")).collect()
    assert [x.o for x in r] == [1, 7, None, None]  # F15: monday=1 … sunday=7


# ----------------------------------------------------------------- ranges --
def test_parse_range(spark):
    df = one_col(spark, ["[1,2)", "(,2]", "(2,)", "(,)", "empty", None])
    r = df.select(
        tm.parse_range(F.col("v"), lambda c: c.cast("int")).alias("r")
    ).collect()
    as_t = [
        None if x.r is None else (x.r.lower, x.r.upper, x.r.lower_inclusive, x.r.upper_inclusive, x.r.is_empty)
        for x in r
    ]
    assert as_t[0] == (1, 2, True, False, False)
    assert as_t[1] == (None, 2, False, True, False)
    assert as_t[2] == (2, None, False, False, False)
    assert as_t[3] == (None, None, False, False, False)
    assert as_t[4] == (None, None, False, False, True)
    assert as_t[5] is None


def test_parse_range_quoted_timestamp(spark):
    df = one_col(spark, ['["2000-01-01 00:00:00","2001-01-01 00:00:00")'])
    r = df.select(
        tm.parse_range(F.col("v"), lambda c: c.cast("timestamp_ntz")).alias("r")
    ).collect()[0]
    assert str(r.r.lower) == "2000-01-01 00:00:00"
    assert r.r.lower_inclusive and not r.r.upper_inclusive


def test_parse_range_quoted_text_bounds(spark):
    # PG 15 renders textrange(E'a\\b','c"d') as ["a\\b","c""d"); a quoted
    # bound may hold the delimiter, and a quoted empty bound is '', not NULL
    df = one_col(spark, ['["a,b",z)', '["a\\\\b","c""d")', '["",x]', "(,)"])
    r = df.select(tm.parse_range(F.col("v")).alias("r")).collect()
    as_t = [tuple(x.r) for x in r]
    assert as_t[0] == ("a,b", "z", True, False, False)
    assert as_t[1] == ("a\\b", 'c"d', True, False, False)
    assert as_t[2] == ("", "x", True, True, False)
    assert as_t[3] == (None, None, False, False, False)


# ------------------------------------------------------------- composites --
def test_composite_fast(spark):
    # F17 chain_id: '(1ehz,1,A)' and partial '(,,A)'; PG 15 renders
    # ROW('a,b',2,'C') as ("a,b",2,C); a value with fewer fields than names
    # reads the missing ones as NULL, also under ANSI mode
    df = one_col(spark, ["(1ehz,1,A)", "(,,A)", None, '("a,b",2,C)', "(x)"])
    casts = [lambda c: c, lambda c: c.cast("int"), lambda c: c]
    r = df.select(
        tm.parse_composite(F.col("v"), ["pdbid", "model", "chain"], casts).alias("c")
    ).collect()
    assert r[0].c.asDict() == {"pdbid": "1ehz", "model": 1, "chain": "A"}
    assert r[1].c.asDict() == {"pdbid": None, "model": None, "chain": "A"}  # struct-of-NULLs
    assert r[2].c is None  # NULL struct ≠ struct-of-NULLs
    assert r[3].c.asDict() == {"pdbid": "a,b", "model": 2, "chain": "C"}
    assert r[4].c.asDict() == {"pdbid": "x", "model": None, "chain": None}


def test_composite_quoting(spark):
    df = one_col(spark, ['("a,b",2,"c""d")', "(,,)", None])
    r = df.select(
        tm.parse_composite(F.col("v"), ["x", "y", "z"]).alias("c")
    ).collect()
    assert r[0].c.asDict() == {"x": "a,b", "y": "2", "z": 'c"d'}
    assert r[1].c.asDict() == {"x": None, "y": None, "z": None}
    assert r[2].c is None


# ----------------------------------------------------------------- arrays --
def test_flatten_with_dims(spark):
    rows = [
        Row(a=[[1, 2], [3, 4], [None, 5]]),
        Row(a=None),
        Row(a=[]),
    ]
    df = spark.createDataFrame(rows, schema="a array<array<int>>")
    r = df.select(
        tm.flatten_with_dims(F.col("a"), 2, "plain").alias("p"),
        tm.flatten_with_dims(F.col("a"), 2, "dims").alias("d"),
        tm.flatten_with_dims(F.col("a"), 2, "dims-lb").alias("l"),
    ).collect()
    assert r[0].p == [1, 2, 3, 4, None, 5]  # F14 row 1
    assert r[0].d.dims == [3, 2]
    assert r[0].l.lower_bound == [1, 1]
    assert r[1].p is None and r[1].d is None
    assert r[2].p == [] and r[2].d.dims == []  # empty stays empty, dims []


# --------------------------------------------------------------- pgvector --
def test_parse_vector(spark):
    df = one_col(spark, ["[1.0001,2,3,4,100000]", "[]", None])
    r = df.select(tm.parse_vector(F.col("v")).alias("a")).collect()
    assert [round(x, 4) for x in r[0].a] == [1.0001, 2.0, 3.0, 4.0, 100000.0]
    assert r[1].a == []  # F19: [] ≠ NULL
    assert r[2].a is None


def test_parse_sparsevec(spark):
    df = one_col(spark, ["{1:-1,5:5.25}/5", "{}/5", None])
    r = df.select(tm.parse_sparsevec(F.col("v")).alias("s")).collect()
    assert r[0].s.entries == {1: -1.0, 5: 5.25}  # F18: 1-based keys
    assert r[0].s.dim == 5
    assert r[1].s.entries == {} and r[1].s.dim == 5  # {} ≠ NULL
    assert r[2].s is None


# ----------------------------------------------- §1.5 sink round-trip -----
# The expression tests above verify values in memory; these verify the
# trifecta SURVIVES the parquet sink and an independent reader (the
# reference's multi-reader pattern, py-tests/test_pgvector.py:73-79).
def test_sink_roundtrip_array_trifecta(spark, tmp_path):
    import duckdb
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from pg2parquet_spark.export import export
    from pg2parquet_spark.options import ExportOptions

    schema = StructType(
        [
            StructField("id", IntegerType(), False),
            StructField("arr", ArrayType(IntegerType(), containsNull=True), True),
        ]
    )
    rows = [(1, []), (2, None), (3, [None]), (4, [7, None, 9])]
    out = str(tmp_path / "trifecta.parquet")
    export(spark.createDataFrame(rows, schema), out, ExportOptions(compression="snappy"))

    got = {r.id: r.arr for r in spark.read.parquet(out).collect()}
    assert got[1] == [] and got[2] is None and got[3] == [None] and got[4] == [7, None, 9]
    dd = dict(duckdb.connect().execute(f"SELECT id, arr FROM '{out}/*.parquet'").fetchall())
    assert dd[1] == [] and dd[2] is None and dd[3] == [None] and dd[4] == [7, None, 9]


def test_sink_roundtrip_null_struct_vs_struct_of_nulls(spark, tmp_path):
    import duckdb

    from pg2parquet_spark.export import export
    from pg2parquet_spark.options import ExportOptions

    df = spark.range(2).select(
        F.col("id").cast("int").alias("id"),
        F.when(
            F.col("id") == 0,
            F.struct(F.lit(None).cast("int").alias("a"), F.lit(None).cast("string").alias("b")),
        ).alias("s"),
    )
    out = str(tmp_path / "structs.parquet")
    export(df, out, ExportOptions(compression="snappy"))
    got = {r.id: r.s for r in spark.read.parquet(out).collect()}
    assert got[0] is not None and got[0].a is None and got[0].b is None
    assert got[1] is None
    dd = dict(duckdb.connect().execute(f"SELECT id, s FROM '{out}/*.parquet'").fetchall())
    assert dd[0] == {"a": None, "b": None} and dd[1] is None


def test_decimal_overflow_nulls(spark):
    df = spark.createDataFrame([("123456789012",)], "n string").select(
        tm.numeric_to_decimal(F.col("n"), 10, 2).alias("dec")
    )
    assert df.collect()[0].dec is None  # > precision → NULL (+ warn in reference)
