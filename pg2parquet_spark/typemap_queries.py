"""Driver-facing queries exercising the typemap layer (SURVEY §2.A).

No live PostgreSQL exists in the harness, so each query *synthesizes* the
PG-shaped input (numeric strings, range/composite/vector text forms, byte
strings) deterministically from the testdata tables, runs the typemap
operator under test, and flattens the result to scalar columns the DuckDB
oracle can reproduce exactly. The operators themselves are the same
expressions the COPY export path applies (see typemap/*, export.py).

Determinism: inputs are integer/string-derived; every float output is either
a float32 whose text source is identical in both engines or an exact decimal
cast — no order-dependent float accumulation anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg2parquet_spark import typemap as tm
from pg2parquet_spark.registry import register
from pg2parquet_spark.tables import table


# --------------------------------------------------------------------------
# A17-A19: numeric 4 modes.
# --------------------------------------------------------------------------
@register(
    "tm_numeric_modes",
    oracle="""
WITH src AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 97 = 0 THEN 'NaN'
              ELSE CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS VARCHAR) END AS num
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, num,
       CAST(CASE WHEN num = 'NaN' THEN NULL ELSE TRY_CAST(num AS DECIMAL(38,18)) END AS VARCHAR) AS dec_str,
       CAST(num AS DOUBLE) AS as_double,
       CAST(num AS REAL) AS as_float32,
       num AS as_string
FROM src
""",
    doc="numeric→decimal/double/float32/string with NaN→NULL (decimal) and NaN→NaN (float); cf. datatypes/numeric.rs.",
)
def tm_numeric_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    num = F.when(F.col("l_orderkey") % 97 == 0, F.lit("NaN")).otherwise(
        F.col("l_extendedprice").cast("decimal(15,2)").cast("string")
    )
    src = li.select("l_orderkey", "l_linenumber", num.alias("num"))
    return src.select(
        "l_orderkey",
        "l_linenumber",
        "num",
        tm.numeric_to_decimal(F.col("num"), 38, 18).cast("string").alias("dec_str"),
        tm.numeric_to_double(F.col("num")).alias("as_double"),
        tm.numeric_to_float32(F.col("num")).alias("as_float32"),
        tm.numeric_to_string(F.col("num")).alias("as_string"),
    )


# --------------------------------------------------------------------------
# A20: money cents → decimal(18,2).
# --------------------------------------------------------------------------
@register(
    "tm_money",
    oracle="""
SELECT o_orderkey,
       CAST(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS BIGINT) AS cents,
       CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS DECIMAL(16,0)) * 0.01 AS VARCHAR) AS money_str
FROM orders
""",
    doc="money int64-cents → Decimal(18,2), exact scale arithmetic (datatypes/money.rs:11-26).",
)
def tm_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("bigint")
    return orders.select(
        "o_orderkey",
        cents.alias("cents"),
        tm.money_to_decimal(cents).cast("string").alias("money_str"),
    )


# --------------------------------------------------------------------------
# A21+A22: interval struct mode and 12-byte INTERVAL mode.
# --------------------------------------------------------------------------
def _le_hex_sql(expr: str) -> str:
    """DuckDB SQL for the little-endian 4-byte hex of an int32 expression."""
    return " || ".join(
        f"printf('%02X', ({expr} >> {8 * i}) & 255)" for i in range(4)
    )


@register(
    "tm_interval",
    oracle=f"""
WITH src AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_partkey % 25 AS INT) - 12 AS months,
         CAST(l_linenumber AS INT) AS days,
         CAST(l_orderkey % 200000 AS BIGINT) * 997001 - 50000000 AS us
  FROM lineitem
), conv AS (
  SELECT *,
         CAST((us - us % 1000) / 1000 AS BIGINT) AS millis_total
  FROM src
), conv2 AS (
  SELECT *,
         CAST((millis_total - millis_total % 86400000) / 86400000 AS BIGINT) AS extra_days,
         CAST(millis_total % 86400000 AS INT) AS millis_rem
  FROM conv
)
SELECT l_orderkey, l_linenumber, months, days, us AS microseconds,
       {_le_hex_sql('months')} || {_le_hex_sql('CAST(days + extra_days AS INT)')} || {_le_hex_sql('millis_rem')} AS flba_hex
FROM conv2
""",
    doc="interval struct mode {months,days,microseconds} + INTERVAL FLBA(12) with µs→ms truncation "
    "and day overflow (datatypes/interval.rs:27-44); hex output for cross-engine comparison.",
)
def tm_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    months = (F.col("l_partkey") % 25).cast("int") - 12
    days = F.col("l_linenumber").cast("int")
    us = (F.col("l_orderkey") % 200000).cast("bigint") * 997001 - 50000000
    st = tm.interval_to_struct(months, days, us)
    flba = tm.interval_to_flba12(months, days, us)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        st.getField("months").alias("months"),
        st.getField("days").alias("days"),
        st.getField("microseconds").alias("microseconds"),
        F.hex(flba).alias("flba_hex"),
    )


# --------------------------------------------------------------------------
# A23: time-of-day → µs since midnight (Parquet Time(µs) stand-in).
# --------------------------------------------------------------------------
@register(
    "tm_time_micros",
    oracle="""
SELECT event_id,
       strftime(ts, '%H:%M:%S.%f') AS time_str,
       epoch_us(ts) - epoch_us(date_trunc('day', ts)) AS us_since_midnight
FROM events
""",
    doc="time text → µs since midnight int64 (myfrom.rs:80-85; Spark has no TimeType — documented stand-in).",
)
def tm_time_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    time_str = F.date_format("ts", "HH:mm:ss.SSSSSS")
    return ev.select(
        "event_id",
        time_str.alias("time_str"),
        tm.time_to_micros(time_str).alias("us_since_midnight"),
    )


# --------------------------------------------------------------------------
# A24: uuid 16-byte ↔ canonical string.
# --------------------------------------------------------------------------
@register(
    "tm_uuid",
    oracle="""
SELECT doc_id,
       lower(substr(md5(text),1,8)) || '-' || substr(md5(text),9,4) || '-' ||
       substr(md5(text),13,4) || '-' || substr(md5(text),17,4) || '-' || substr(md5(text),21,12) AS uuid_str
FROM documents
""",
    doc="uuid FLBA(16) → canonical 8-4-4-4-12 string (myfrom.rs:87-91); bytes synthesized via md5.",
)
def tm_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    b16 = F.unhex(F.md5(F.col("text")))
    return docs.select("doc_id", tm.uuid_to_string(b16).alias("uuid_str"))


# --------------------------------------------------------------------------
# A25: macaddr text / int64 modes.
# --------------------------------------------------------------------------
def _hexval(ch: str) -> str:
    return f"(strpos('0123456789abcdef', {ch}) - 1)"


def _mac_int64_sql(h: str) -> str:
    terms = []
    for i in range(6):
        hi = _hexval(f"substr({h}, {2 * i + 1}, 1)")
        lo = _hexval(f"substr({h}, {2 * i + 2}, 1)")
        terms.append(f"(({hi}) * 16 + ({lo})) * {256 ** (5 - i)}")
    return " + ".join(terms)


@register(
    "tm_macaddr",
    oracle=f"""
WITH src AS (
  SELECT doc_id, lower(substr(md5(text), 1, 12)) AS h FROM documents
)
SELECT doc_id,
       substr(h,1,2)||':'||substr(h,3,2)||':'||substr(h,5,2)||':'||substr(h,7,2)||':'||substr(h,9,2)||':'||substr(h,11,2) AS mac_text,
       CAST({_mac_int64_sql('h')} AS BIGINT) AS mac_int64
FROM src
""",
    doc="macaddr → 'aa:bb:…' text and int64-low-6-bytes modes (myfrom.rs:99-117).",
)
def tm_macaddr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    b6 = F.unhex(F.substring(F.md5(F.col("text")), 1, 12))
    return docs.select(
        "doc_id",
        tm.macaddr_to_text(b6).alias("mac_text"),
        tm.macaddr_to_int64(b6).alias("mac_int64"),
    )


# --------------------------------------------------------------------------
# A27: bit/varbit → '0101' text.
# --------------------------------------------------------------------------
@register(
    "tm_bit",
    oracle="""
SELECT p_partkey, lpad(bin(p_size), 10, '0') AS bits
FROM part
""",
    doc="bit(n) → fixed-width 0/1 text (myfrom.rs:124-130).",
)
def tm_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey", tm.int_to_bitstring(F.col("p_size"), 10).alias("bits")
    )


# --------------------------------------------------------------------------
# A29: enum → 1-based ordinal / text.
# --------------------------------------------------------------------------
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "tm_enum_ordinal",
    oracle="""
SELECT o_orderkey, o_orderpriority AS label,
       CAST(CASE o_orderpriority
         WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
         WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 END AS INT) AS ordinal
FROM orders
""",
    doc="enum int mode: 1-based ordinal in declaration order via constant-folded literal map "
    "(postgres_cloner.rs:437-452) — no join, no shuffle.",
)
def tm_enum_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        tm.enum_to_text(F.col("o_orderpriority")).alias("label"),
        tm.enum_to_int(F.col("o_orderpriority"), _PRIORITIES).alias("ordinal"),
    )


# --------------------------------------------------------------------------
# A30: range text → 5-field struct (flattened for the oracle).
# --------------------------------------------------------------------------
@register(
    "tm_range_parse",
    oracle="""
WITH src AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_orderkey % 1000 AS BIGINT) AS lo,
         CAST(l_orderkey % 1000 + l_linenumber AS BIGINT) AS hi,
         l_linenumber % 4 AS kind
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       CASE kind WHEN 0 THEN 'empty' WHEN 1 THEN '[' || lo || ',' || hi || ')'
                 WHEN 2 THEN '(,' || hi || ']' ELSE '(' || lo || ',)' END AS range_txt,
       CASE WHEN kind IN (1, 3) THEN CAST(lo AS INT) END AS lower,
       CASE WHEN kind IN (1, 2) THEN CAST(hi AS INT) END AS upper,
       kind = 1 AS lower_inclusive,
       kind = 2 AS upper_inclusive,
       kind = 0 AS is_empty
FROM src
""",
    doc="range text parse → {lower,upper,lower_inclusive,upper_inclusive,is_empty} "
    "(pg_custom_types.rs:100-161 equivalent, pure Column expressions).",
)
def tm_range_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg2parquet_spark.tables import spread_scan

    # single-row-group fixture file → 1-task scan; the per-row grammar
    # parse is CPU-bound, so spread it (spread_scan: no exchange at all
    # once the scan fills the cluster — the real-scale case)
    li = spread_scan(table(spark, sf_dir, "lineitem"))
    lo = (F.col("l_orderkey") % 1000).cast("bigint")
    hi = (F.col("l_orderkey") % 1000 + F.col("l_linenumber")).cast("bigint")
    kind = F.col("l_linenumber") % 4
    txt = (
        F.when(kind == 0, F.lit("empty"))
        .when(kind == 1, F.concat(F.lit("["), lo, F.lit(","), hi, F.lit(")")))
        .when(kind == 2, F.concat(F.lit("(,"), hi, F.lit("]")))
        .otherwise(F.concat(F.lit("("), lo, F.lit(",)")))
    )
    r = tm.parse_range(txt, lambda c: c.cast("int"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        txt.alias("range_txt"),
        r.getField("lower").alias("lower"),
        r.getField("upper").alias("upper"),
        r.getField("lower_inclusive").alias("lower_inclusive"),
        r.getField("upper_inclusive").alias("upper_inclusive"),
        r.getField("is_empty").alias("is_empty"),
    )


# --------------------------------------------------------------------------
# A31: composite text → struct (flattened).
# --------------------------------------------------------------------------
@register(
    "tm_composite_parse",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_custkey % 10 = 0 THEN '(,,' || c_mktsegment || ')'
            ELSE '(' || c_name || ',' || c_custkey || ',' || c_mktsegment || ')' END AS comp_txt,
       CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_name END AS name,
       CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END AS key,
       c_mktsegment AS segment
FROM customer
""",
    doc="composite '(f1,f2,f3)' text → struct; unquoted empty field = NULL field, struct-of-NULLs ≠ "
    "NULL struct (pg_custom_types.rs:169-213; FIXTURES F17).",
)
def tm_composite_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    txt = F.when(
        F.col("c_custkey") % 10 == 0,
        F.concat(F.lit("(,,"), F.col("c_mktsegment"), F.lit(")")),
    ).otherwise(
        F.concat(
            F.lit("("), F.col("c_name"), F.lit(","), F.col("c_custkey"),
            F.lit(","), F.col("c_mktsegment"), F.lit(")"),
        )
    )
    casts = [lambda c: c, lambda c: c.cast("bigint"), lambda c: c]
    comp = tm.parse_composite(txt, ["name", "key", "segment"], casts)
    return cust.select(
        "c_custkey",
        txt.alias("comp_txt"),
        comp.getField("name").alias("name"),
        comp.getField("key").alias("key"),
        comp.getField("segment").alias("segment"),
    )


# --------------------------------------------------------------------------
# A32: multidim array flatten + dims + lower_bound (CSV-flattened outputs).
# --------------------------------------------------------------------------
@register(
    "tm_array_flatten_dims",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_linenumber % 7 = 0 THEN NULL
            ELSE CAST(l_orderkey % 10 AS VARCHAR) || ',' || CAST(l_partkey % 10 AS VARCHAR) || ',' ||
                 CAST(l_suppkey % 10 AS VARCHAR) || ',' || CAST(l_linenumber AS VARCHAR) END AS data_csv,
       CASE WHEN l_linenumber % 7 = 0 THEN NULL ELSE '2,2' END AS dims_csv,
       CASE WHEN l_linenumber % 7 = 0 THEN NULL ELSE '1,1' END AS lb_csv
FROM lineitem
""",
    doc="2-D array → flattened 1-D + dims + default lower bounds (datatypes/array.rs:22-62, "
    "postgres_cloner.rs:843-893); CSV-joined for cross-engine value equality.",
)
def tm_array_flatten_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg2parquet_spark.tables import spread_scan

    li = spread_scan(table(spark, sf_dir, "lineitem"))
    arr = F.when(
        F.col("l_linenumber") % 7 != 0,
        F.array(
            F.array(F.col("l_orderkey") % 10, F.col("l_partkey") % 10),
            F.array(F.col("l_suppkey") % 10, F.col("l_linenumber").cast("bigint")),
        ),
    )
    out = tm.flatten_with_dims(arr, 2, "dims-lb")
    join_long = lambda c: F.array_join(c.cast("array<string>"), ",")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(arr.isNotNull(), join_long(out.getField("data"))).alias("data_csv"),
        F.when(arr.isNotNull(), join_long(out.getField("dims"))).alias("dims_csv"),
        F.when(arr.isNotNull(), join_long(out.getField("lower_bound"))).alias("lb_csv"),
    )


# --------------------------------------------------------------------------
# A33: pgvector dense text → float list.
# --------------------------------------------------------------------------
@register(
    "tm_vector_parse",
    oracle="""
WITH src AS (
  SELECT p_partkey, p_size,
         CASE WHEN p_partkey % 13 = 0 THEN '[]'
              ELSE '[' || CAST(p_partkey % 10 AS VARCHAR) || '.5,' || CAST(p_size % 10 AS VARCHAR) || '.25]' END AS vtxt
  FROM part
)
SELECT p_partkey, vtxt,
       CASE WHEN vtxt = '[]' THEN 0 ELSE 2 END AS dim,
       CASE WHEN vtxt = '[]' THEN NULL ELSE CAST(CAST(p_partkey % 10 AS VARCHAR) || '.5' AS REAL) END AS first_el,
       CASE WHEN vtxt = '[]' THEN NULL ELSE CAST(CAST(p_size % 10 AS VARCHAR) || '.25' AS REAL) END AS last_el
FROM src
""",
    doc="'[1.5,2.25]' → array<float>; '[]' stays empty ≠ NULL (datatypes/pgvector.rs:26-44; FIXTURES F19).",
)
def tm_vector_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    vtxt = F.when(F.col("p_partkey") % 13 == 0, F.lit("[]")).otherwise(
        F.concat(
            F.lit("["), (F.col("p_partkey") % 10).cast("string"), F.lit(".5,"),
            (F.col("p_size") % 10).cast("string"), F.lit(".25]"),
        )
    )
    vec = tm.parse_vector(vtxt)
    return part.select(
        "p_partkey",
        vtxt.alias("vtxt"),
        F.size(vec).alias("dim"),
        F.try_element_at(vec, F.lit(1)).alias("first_el"),
        F.try_element_at(vec, F.lit(-1)).alias("last_el"),
    )


# --------------------------------------------------------------------------
# A34: pgvector sparse text → map<int,float> (1-based keys).
# --------------------------------------------------------------------------
@register(
    "tm_sparsevec_parse",
    oracle="""
WITH src AS (
  SELECT s_suppkey,
         CAST(2 + s_suppkey % 8 AS INT) AS k2,
         CASE WHEN s_suppkey % 5 = 0 THEN '{}/64'
              ELSE '{1:' || CAST(s_suppkey % 10 AS VARCHAR) || '.5,' ||
                   CAST(2 + s_suppkey % 8 AS VARCHAR) || ':' || CAST(s_suppkey % 7 AS VARCHAR) || '.25}/64' END AS stxt
  FROM supplier
)
SELECT s_suppkey, stxt,
       64 AS dim,
       CASE WHEN stxt = '{}/64' THEN 0 ELSE 2 END AS n_entries,
       CASE WHEN stxt = '{}/64' THEN NULL ELSE CAST(CAST(s_suppkey % 10 AS VARCHAR) || '.5' AS REAL) END AS v_at_1,
       CASE WHEN stxt = '{}/64' THEN NULL ELSE CAST(CAST(s_suppkey % 7 AS VARCHAR) || '.25' AS REAL) END AS v_at_k2
FROM src
""",
    doc="sparsevec '{i:v,…}/dim' → map<int,float> with 1-based keys; '{}' ≠ NULL "
    "(datatypes/pgvector.rs:73-106, +1 at postgres_cloner.rs:670).",
)
def tm_sparsevec_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = table(spark, sf_dir, "supplier")
    k2 = (2 + F.col("s_suppkey") % 8).cast("int")
    stxt = F.when(F.col("s_suppkey") % 5 == 0, F.lit("{}/64")).otherwise(
        F.concat(
            F.lit("{1:"), (F.col("s_suppkey") % 10).cast("string"), F.lit(".5,"),
            k2.cast("string"), F.lit(":"), (F.col("s_suppkey") % 7).cast("string"),
            F.lit(".25}/64"),
        )
    )
    sv = tm.parse_sparsevec(stxt)
    entries = sv.getField("entries")
    return supp.select(
        "s_suppkey",
        stxt.alias("stxt"),
        sv.getField("dim").alias("dim"),
        F.size(F.map_keys(entries)).alias("n_entries"),
        F.try_element_at(entries, F.lit(1)).alias("v_at_1"),
        F.try_element_at(entries, k2).alias("v_at_k2"),
    )


# --------------------------------------------------------------------------
# A28: json/jsonb normalization + extraction.
# --------------------------------------------------------------------------
@register(
    "tm_jsonb",
    oracle="""
SELECT event_id, props AS json_text,
       props AS jsonb_normalized,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_value
FROM events
""",
    doc="jsonb v1 header strip (datatypes/jsonb.rs:11-31) — binary synthesized with the version "
    "byte, normalized back to text — plus JSON field extraction.",
)
def tm_jsonb(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    jsonb_wire = F.concat(F.lit(bytes([1])), F.encode(F.col("props"), "UTF-8"))
    return ev.select(
        "event_id",
        F.col("props").alias("json_text"),
        tm.jsonb_normalize(jsonb_wire).alias("jsonb_normalized"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k_value"),
    )


# --------------------------------------------------------------------------
# A19 at precision > 38: string mode is the contract.
# --------------------------------------------------------------------------
@register(
    "tm_numeric_string_highprec",
    oracle="""
SELECT n_nationkey,
       '1.' || repeat('0', 40 + n_nationkey % 5) || '1' AS num_str
FROM nation
""",
    doc="numeric wider than 128 bits (e.g. numeric(140,100)) passes through string mode exactly "
    "(postgres_cloner.rs:735-739; Spark decimal caps at 38 — documented deviation).",
)
def tm_numeric_string_highprec(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    num = F.concat(
        F.lit("1."), F.repeat(F.lit("0"), (40 + F.col("n_nationkey") % 5).cast("int")), F.lit("1")
    )
    return nation.select(
        "n_nationkey", tm.numeric_to_string(num).alias("num_str")
    )


# --------------------------------------------------------------------------
# A26 inet passthrough + §1.3 unsigned reinterpretations (oid, "char").
# --------------------------------------------------------------------------
@register(
    "tm_unsigned_inet",
    oracle="""
WITH src AS (
  SELECT o_orderkey,
         CAST((o_orderkey * 131071) % 4294967296 AS BIGINT) AS oid_true,
         CHR(33 + CAST(o_orderkey % 90 AS INT)) AS ch,
         '10.' || CAST(o_orderkey % 256 AS VARCHAR) || '.0.' ||
            CAST((o_orderkey * 7) % 256 AS VARCHAR) || '/24' AS inet
  FROM orders
)
SELECT o_orderkey,
       CAST(CASE WHEN oid_true >= 2147483648 THEN oid_true - 4294967296
                 ELSE oid_true END AS INT) AS oid_wire,
       oid_true AS oid_unsigned,
       CAST(ord(ch) AS SMALLINT) AS char_uint8,
       inet AS inet_text
FROM src
""",
    doc="oid uint32 reinterpret (signed wire int32 → unsigned long, "
    "postgres_cloner.rs:589), \"char\" byte value (→ UInt8 semantics, "
    ":597), inet text passthrough (myfrom.rs:118-123). Input synthesizes "
    "wire-signed oids including values past 2^31.",
)
def tm_unsigned_inet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg2parquet_spark.typemap.textual import char_to_uint8, oid_to_long

    orders = table(spark, sf_dir, "orders")
    oid_true = ((F.col("o_orderkey") * 131071) % 4294967296).cast("long")
    wire = F.when(oid_true >= 2147483648, oid_true - 4294967296).otherwise(oid_true).cast("int")
    ch = F.chr(33 + (F.col("o_orderkey") % 90).cast("int"))
    inet = F.concat(
        F.lit("10."), (F.col("o_orderkey") % 256).cast("string"),
        F.lit(".0."), ((F.col("o_orderkey") * 7) % 256).cast("string"), F.lit("/24"),
    )
    src = orders.select(
        "o_orderkey", wire.alias("oid_wire"), ch.alias("ch"), inet.alias("inet")
    )
    return src.select(
        "o_orderkey",
        "oid_wire",
        oid_to_long(F.col("oid_wire")).alias("oid_unsigned"),
        char_to_uint8(F.col("ch")).alias("char_uint8"),
        F.col("inet").alias("inet_text"),
    )
