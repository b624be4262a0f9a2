"""Driver-facing queries exercising the export sink (SURVEY §2.A A5-A8).

``sink_roundtrip`` actually writes Parquet through export() (zstd, custom
row-group size), reads it back, and aggregates — so the correctness gate
covers the sink path end-to-end, not just in pytest.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg2parquet_spark.export import export
from pg2parquet_spark.options import ExportOptions
from pg2parquet_spark.registry import register
from pg2parquet_spark.tables import table


@register(
    "sink_roundtrip",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_quantity > 30
GROUP BY l_returnflag
""",
    doc="A5-A8 sink: filter → export() with zstd + row-group sizing → read back → aggregate. "
    "Values must survive the write/read cycle bit-exactly.",
)
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg2parquet_spark.tmpdirs import memo_tmpdir

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30)
    # memoized dir per corpus; export() re-writes (mode=overwrite) every
    # invocation — the write IS the query, only the mkdtemp churn is gone
    base, _ = memo_tmpdir("pg2parquet_sink", sf_dir)
    out = base + "/lineitem_filtered.parquet"
    export(li, out, ExportOptions(compression="zstd", compression_level=3,
                                  row_group_bytes=64 * 1024 * 1024))
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
    )


@register(
    "audit_bad_rows",
    oracle="""
SELECT 'price' AS col_name, doc_id AS row_id, src AS bad_value
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR) ELSE text END AS src
  FROM documents
)
WHERE src IS NOT NULL AND TRY_CAST(src AS DOUBLE) IS NULL
""",
    doc="A37 error-row identification (ref cli/src/postgresutils.rs:4-51): a "
    "deterministic mixed-validity conversion (every 3rd doc numeric, the rest "
    "prose) driven through audit.identify_bad_rows — per offending row, the "
    "failing column, the row's identifying key, and the bad source value. "
    "Map-side explode of a null-compacted marks array: no shuffle, no join.",
)
def audit_bad_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg2parquet_spark.audit import identify_bad_rows

    docs = table(spark, sf_dir, "documents")
    src = F.when(
        F.col("doc_id") % 3 == 0, F.col("doc_id").cast("string")
    ).otherwise(F.col("text"))
    frame = docs.select("doc_id", src.alias("src"))
    conv = F.expr("try_cast(src AS double)")
    return identify_bad_rows(
        frame, {"price": (F.col("src"), conv)}, id_col="doc_id"
    )


_SUPPLIER_AGG_ORACLE = """
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal,
       MIN(s_name) AS first_name
FROM supplier
GROUP BY s_nationkey
"""


def _supplier_roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Shared body for the file-source gate queries: supplier → write fmt →
    read back through sources.files.read_table with an explicit schema →
    aggregate. Exercises the non-parquet source path (sources/files.py) end
    to end inside the correctness gate; values must survive both directions.
    """
    from pg2parquet_spark.sources.files import read_table

    sup = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    from pg2parquet_spark.tmpdirs import memo_tmpdir

    base, _ = memo_tmpdir(f"pg2parquet_src_{fmt}", sf_dir)
    out = base + f"/supplier.{fmt}"
    (
        sup.write.mode("overwrite")
        .format("json" if fmt == "jsonl" else fmt)
        .options(**({"header": "true"} if fmt == "csv" else {}))
        .save(out)
    )
    back = read_table(
        spark,
        out,
        schema="s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE",
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(12,2)")).cast("double").alias("sum_acctbal"),
        F.min("s_name").alias("first_name"),
    )


@register(
    "source_csv_roundtrip",
    oracle=_SUPPLIER_AGG_ORACLE,
    doc="File-source surface: supplier → CSV (header) → read back with an explicit "
    "schema (production mode — inference would double-scan) → aggregate. CSV is "
    "line-splittable, so the read parallelizes at scale.",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _supplier_roundtrip(spark, sf_dir, "csv")


@register(
    "source_json_roundtrip",
    oracle=_SUPPLIER_AGG_ORACLE,
    doc="File-source surface: supplier → JSON-lines → read back with explicit "
    "schema → aggregate (jsonl splits by line at scale; schema avoids inference scans).",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _supplier_roundtrip(spark, sf_dir, "json")


@register(
    "source_orc_roundtrip",
    oracle=_SUPPLIER_AGG_ORACLE,
    doc="File-source surface: supplier → ORC → read back → aggregate (columnar "
    "alternative with predicate pushdown, same as the parquet path).",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _supplier_roundtrip(spark, sf_dir, "orc")


_EXOTIC_LABELS = ("sad", "ok", "happy")  # pg_enum order (ENUM_LABELS_SQL analog)


@register(
    "source_exotic_rewrite_roundtrip",
    oracle="""
SELECT r_regionkey AS id,
       CASE CAST(r_regionkey % 3 AS INT) WHEN 0 THEN 'sad' WHEN 1 THEN 'ok' ELSE 'happy' END AS mood_name,
       CAST(CASE CAST(r_regionkey % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END AS INT) AS mood_ord,
       CAST(CASE WHEN r_regionkey = 0 THEN NULL ELSE r_regionkey END AS INT) AS rng_lower,
       CAST(CASE WHEN r_regionkey IN (0, 3) THEN NULL ELSE r_regionkey * 10 END AS INT) AS rng_upper,
       r_regionkey <> 0 AS rng_lower_inc,
       FALSE AS rng_upper_inc,
       r_regionkey = 0 AS rng_empty,
       CAST(r_regionkey + 0.5 AS DOUBLE) AS pt_x,
       CAST(r_regionkey * 2 + 0.25 AS DOUBLE) AS pt_y,
       CAST(2 AS INT) AS vec_dim,
       CAST(r_regionkey + 0.5 AS REAL) AS vec_x0,
       CAST(r_regionkey + 0.25 AS REAL) AS vec_x1,
       CAST(8 AS INT) AS sv_dim,
       CAST(2 AS INT) AS sv_nnz,
       CAST(2.25 AS REAL) AS sv_v3
FROM region
""",
    doc="A2+A3 exotic-type fidelity END-TO-END (ref postgres_cloner.rs:407-561 "
    "analog): the PG-side query goes through rewrite_query_for_exotics "
    "(with no multidim column it comes back unchanged: COPY already renders "
    "every column as its type's text), is EXECUTED on a stand-in server "
    "(DuckDB — which returns a real native ENUM as its label, and renders "
    "range/composite/pgvector wire text), shipped row-wise as text "
    "(the COPY transport analog), then rebuilt client-side by the typemap "
    "parsers (enums/ranges/composites/pgvector) into typed columns — the "
    "exact chain a live-PG export runs. Fixture is bounded (5 region rows) "
    "so the driver-side transport stand-in is O(1); in production read() "
    "streams the same text through N partitioned COPY streams and the parse "
    "chain is the same pure-Column expressions (no UDF, no shuffle). "
    "Multidim arrays' dims-shipping rewrite is string-verified in pytest "
    "(array_dims has no DuckDB analog to execute).",
)
def source_exotic_rewrite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import duckdb

    from pg2parquet_spark import typemap as tm
    from pg2parquet_spark.sources.pgcopy import rewrite_query_for_exotics

    # --- the "server": a DuckDB database with a native enum over fixtures --
    con = duckdb.connect()
    try:
        con.execute("CREATE TYPE mood_t AS ENUM ('sad', 'ok', 'happy')")
        con.execute(
            f"CREATE VIEW region AS SELECT * FROM read_parquet('{sf_dir}/region.parquet')"
        )
        inner = """
SELECT r_regionkey AS id,
       (CASE CAST(r_regionkey % 3 AS INT) WHEN 0 THEN 'sad' WHEN 1 THEN 'ok' ELSE 'happy' END)::mood_t AS mood,
       CASE WHEN r_regionkey = 0 THEN 'empty'
            WHEN r_regionkey = 3 THEN '[3,)'
            ELSE '[' || r_regionkey || ',' || r_regionkey * 10 || ')' END AS rng,
       '(' || (r_regionkey + 0.5) || ',' || (r_regionkey * 2 + 0.25) || ')' AS pt,
       '[' || (r_regionkey + 0.5) || ',' || (r_regionkey + 0.25) || ']' AS vec,
       '{1:' || (r_regionkey + 0.5) || ',3:2.25}/8' AS sv
FROM region
"""
        rewritten = rewrite_query_for_exotics(
            inner,
            ["id", "mood", "rng", "pt", "vec", "sv"],
            {
                "mood": "enum",
                "rng": "range",
                "pt": "composite",
                "vec": "vector",
                "sv": "sparsevec",
            },
        )
        rows = con.execute(rewritten).fetchall()
    finally:
        con.close()

    # --- the "wire": every exotic column arrives as text ------------------
    wire = spark.createDataFrame(
        rows, "id bigint, mood string, rng string, pt string, vec string, sv string"
    )

    # --- client-side rebuild: the same typemap chain the COPY export runs --
    rng = tm.parse_range(F.col("rng"), lambda c: c.cast("int"))
    pt = tm.parse_composite(
        F.col("pt"), ["x", "y"], [lambda c: c.cast("double")] * 2
    )
    vec = tm.parse_vector(F.col("vec"))
    sv = tm.parse_sparsevec(F.col("sv"))
    return wire.select(
        "id",
        tm.enum_to_text(F.col("mood")).alias("mood_name"),
        tm.enum_to_int(F.col("mood"), _EXOTIC_LABELS).alias("mood_ord"),
        rng["lower"].alias("rng_lower"),
        rng["upper"].alias("rng_upper"),
        rng["lower_inclusive"].alias("rng_lower_inc"),
        rng["upper_inclusive"].alias("rng_upper_inc"),
        rng["is_empty"].alias("rng_empty"),
        pt["x"].alias("pt_x"),
        pt["y"].alias("pt_y"),
        F.size(vec).cast("int").alias("vec_dim"),
        F.element_at(vec, 1).alias("vec_x0"),
        F.element_at(vec, 2).alias("vec_x1"),
        sv["dim"].alias("sv_dim"),
        F.size(sv["entries"]).cast("int").alias("sv_nnz"),
        F.element_at(sv["entries"], F.lit(3)).alias("sv_v3"),
    )


_EVO_MEMO: dict[str, str] = {}


@register(
    "source_schema_evolution",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_price,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                     THEN CAST(o_totalprice AS DECIMAL(15,2))
                     ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE) AS sum_price
FROM orders
""",
    doc="Parquet SCHEMA EVOLUTION read — the 100 TB reality that a dataset's "
    "files were written over months with drifting schemas: an old file "
    "(orderkey, custkey) and a new file (+ totalprice) land in one "
    "directory; spark.read.option('mergeSchema', true) unifies them, "
    "old-file rows surface NULL for the added column, and the aggregate "
    "proves no row and no value was lost or fabricated. mergeSchema's "
    "footer-merge cost is per-FILE (driver-side listing), not per-row — "
    "at scale you pin the merged schema once and drop the option; both "
    "paths share this read code.",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the evolved two-schema directory is written ONCE per sf_dir (memoized
    # like _STOP_MEMO) — selfcheck/scaleprobe/plan-sweep re-invocations read
    # the cached directory instead of leaking a fresh mkdtemp each call
    if sf_dir not in _EVO_MEMO:
        orders = table(spark, sf_dir, "orders")
        out = tempfile.mkdtemp(prefix="pg2parquet_evo_")
        old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey"
        )
        new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        old.write.mode("append").parquet(out)
        new.write.mode("append").parquet(out)
        _EVO_MEMO[sf_dir] = out
    back = spark.read.option("mergeSchema", "true").parquet(_EVO_MEMO[sf_dir])
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("o_totalprice").cast("bigint").alias("n_with_price"),
        F.coalesce(
            F.sum(F.col("o_totalprice").cast("decimal(15,2)")).cast("double"),
            F.lit(0.0),
        ).alias("sum_price"),
    )
