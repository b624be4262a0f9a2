"""pg2parquet_spark — a PySpark-native analytics/ETL engine with the query
and data-processing capabilities of exyi/pg2parquet.

The reference (`/root/reference`, exyi/pg2parquet v0.2.1) is a single-threaded
Rust CLI that ships one SQL query to a PostgreSQL server and streams the result
into one Parquet file, implementing (a) a PG-catalog→Parquet schema compiler,
(b) ~35 per-column conversion operators, and (c) a streaming columnar sink
(see SURVEY.md). This engine re-expresses all of that Spark-first:

- relational algebra (the surface the reference delegates to the PG server,
  SURVEY §2.B) is Spark SQL / DataFrame + Catalyst — see ``operators/``;
- the type-mapping semantics (SURVEY §2.A: numeric modes, interval struct,
  ranges, composites, enums, multidim arrays, pgvector) are Spark ``Column``
  expressions — see ``typemap/``;
- the sink is Spark's Parquet writer, configured — see ``export.py``;
- beyond parity: large-scale training-data pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing) — see ``operators/``.

Mostly public PySpark DataFrame API. Exceptions: the float16 pass uses
``sc.parallelize``; ``export.py`` and the meter reach Hadoop's FileSystem and
Parquet footers through ``spark._jvm``; ``tables.py`` and ``operators/dedup.py``
inspect plans and RDDs.
"""

__version__ = "0.1.0"
