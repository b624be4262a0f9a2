"""CLI mirroring the reference's `pg2parquet export` surface (main.rs:48-72,
155-184) on Spark.

Two source modes:
- PostgreSQL (the reference's only mode): --connection/--host/--dbname …
  via the COPY source (needs ``psql`` on PATH);
- parquet fixture dir (ours, for PG-less environments): --input-dir
  registers each table file as a view and --query runs Spark SQL over them.

Examples:
  python -m pg2parquet_spark.cli export -o /tmp/out.parquet \
      --input-dir /root/testdata/sf0.001 \
      -q "SELECT * FROM lineitem WHERE l_quantity > 30" \
      --compression zstd --compression-level 3 --single-file
"""

from __future__ import annotations

import argparse
import dataclasses
import sys

from pg2parquet_spark import __version__
from pg2parquet_spark.options import (
    ARRAY_HANDLING,
    COMPRESSIONS,
    ENUM_HANDLING,
    FLOAT16_HANDLING,
    INTERVAL_HANDLING,
    JSON_HANDLING,
    MACADDR_HANDLING,
    NUMERIC_HANDLING,
    ExportOptions,
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pg2parquet-spark")
    p.add_argument("--version", action="version", version=f"pg2parquet-spark {__version__}")
    sub = p.add_subparsers(dest="command", required=True)
    e = sub.add_parser("export", help="Export a table or query result to Parquet")
    e.add_argument("-o", "--output-file", required=True)
    src = e.add_mutually_exclusive_group(required=True)
    src.add_argument("-q", "--query")
    src.add_argument("-t", "--table")
    # connection (reference PostgresConnArgs)
    e.add_argument("-c", "--connection", help="postgres:// URL (or DATABASE_URL env)")
    e.add_argument("-H", "--host")
    e.add_argument("-U", "--user")
    e.add_argument("-d", "--dbname")
    e.add_argument("-p", "--port", type=int, help="default 5432")
    e.add_argument("--password")
    e.add_argument("--sslmode", choices=["disable", "prefer", "require"])
    # ours: fixture-dir source for PG-less runs
    e.add_argument("--input-dir", help="directory of <table>.parquet files used as views")
    # schema settings (reference SchemaSettingsArgs) and sink options: a
    # flag left out keeps ExportOptions' own default
    e.add_argument("--macaddr-handling", choices=MACADDR_HANDLING)
    e.add_argument("--json-handling", choices=JSON_HANDLING)
    e.add_argument("--enum-handling", choices=ENUM_HANDLING)
    e.add_argument("--interval-handling", choices=INTERVAL_HANDLING)
    e.add_argument("--numeric-handling", choices=NUMERIC_HANDLING)
    e.add_argument("--decimal-scale", type=int)
    e.add_argument("--decimal-precision", type=int)
    e.add_argument("--array-handling", choices=ARRAY_HANDLING)
    e.add_argument("--float16-handling", choices=FLOAT16_HANDLING)
    e.add_argument("--compression", choices=COMPRESSIONS)
    e.add_argument("--compression-level", type=int)
    e.add_argument("--single-file", action="store_true", default=None,
                   help="one ordered output file (the reference's shape); default = parallel files")
    e.add_argument("--partition-by", type=lambda v: tuple(v.split(",")),
                   help="comma-separated hive partition columns")
    e.add_argument("--quiet", action="store_true")
    e.add_argument("--partition-column")
    e.add_argument("--lower-bound", type=int)
    e.add_argument("--upper-bound", type=int)
    e.add_argument("--num-partitions", type=int)
    # hidden debug subcommand, mirrors the reference's parquet-info
    pi = sub.add_parser("parquet-info", help="Dump schema/row-group info of a parquet file")
    pi.add_argument("path")
    return p


def run_export(args: argparse.Namespace) -> int:
    from pg2parquet_spark.export import export
    from pg2parquet_spark.session import get_spark

    given = {f.name: getattr(args, f.name, None) for f in dataclasses.fields(ExportOptions)}
    options = ExportOptions(**{k: v for k, v in given.items() if v is not None})
    spark = get_spark(app_name="pg2parquet_spark_cli")
    if args.input_dir:
        # any mix of <table>.parquet/csv/json/jsonl/orc registers as views
        from pg2parquet_spark.sources.files import register_file_views

        register_file_views(spark, args.input_dir)
        query = args.query or f"SELECT * FROM {args.table}"
        df = spark.sql(query)
    else:
        from pg2parquet_spark.sources import pgcopy

        conn = pgcopy.PostgresConnection(
            url=args.connection, host=args.host, port=args.port or 5432,
            dbname=args.dbname, user=args.user, password=args.password,
            sslmode=args.sslmode,
        )
        df = pgcopy.read(
            spark, conn, query=args.query, table=args.table,
            partition_column=args.partition_column,
            lower_bound=args.lower_bound, upper_bound=args.upper_bound,
            num_partitions=args.num_partitions,
        )
    if not args.quiet:
        # A36/A38 analog: schema print (format_schema) + summary stats
        df.printSchema()
    report = export(df, args.output_file, options, quiet=args.quiet)
    if not args.quiet:
        print(report)
    return 0


# flags that only a PostgreSQL source reads, by their ``args`` attribute
_PG_ONLY = {
    "connection": "-c/--connection",
    "host": "-H/--host",
    "user": "-U/--user",
    "dbname": "-d/--dbname",
    "port": "-p/--port",
    "password": "--password",
    "sslmode": "--sslmode",
    "partition_column": "--partition-column",
    "lower_bound": "--lower-bound",
    "upper_bound": "--upper-bound",
    "num_partitions": "--num-partitions",
}


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.command == "export":
        if args.input_dir:
            given = [flag for attr, flag in _PG_ONLY.items() if getattr(args, attr) is not None]
            if given:
                parser.error(f"{', '.join(given)} would be ignored with --input-dir")
        return run_export(args)
    if args.command == "parquet-info":
        from pg2parquet_spark.parquetinfo import parquet_info

        print(parquet_info(args.path))
        return 0
    raise SystemExit(2)


if __name__ == "__main__":
    sys.exit(main())
