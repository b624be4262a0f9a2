"""PostgreSQL connection args, catalog SQL and the exotic-type rewrite.

The transport that moves rows is :mod:`pg2parquet_spark.sources.pgcopy`
(COPY through ``psql``); this module holds the transport-independent
pieces it and its callers share:

- A1 table scan → :func:`table_query` (identifiers are quoted, unlike the
  reference's naive format at main.rs:297-299 — a deviation in our favor);
- A3 exotic types → the :data:`ENUM_LABELS_SQL` catalog read, and
  :func:`rewrite_query_for_exotics`, which wraps
  enum/range/composite/vector columns in ::text casts server-side so the
  typemap text parsers (typemap/*) can rebuild structured values — the
  moral equivalent of the reference's binary decoders in
  pg_custom_types.rs;
- A4 connection → :class:`PostgresConnection`, which
  :func:`~pg2parquet_spark.sources.pgcopy.psql_command` turns into psql's
  argv and ``PG*`` variables with the reference's precedence
  (postgres_cloner.rs:222-292); a URL goes to libpq unparsed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class PostgresConnection:
    """Connection args with the reference's precedence rules."""

    url: str | None = None  # postgres://... (or jdbc:postgresql://...) form
    host: str | None = None
    port: int = 5432
    dbname: str | None = None
    user: str | None = None
    password: str | None = None
    sslmode: str | None = None  # disable | prefer | require


def quote_ident(name: str) -> str:
    """Double-quote a PG identifier (schema-qualified names keep their dots).

    The reference interpolates the table name unquoted (main.rs:297-299);
    quoting is strictly safer and changes nothing for ordinary names.
    """
    return ".".join('"' + part.replace('"', '""') + '"' for part in name.split("."))


def table_query(table: str) -> str:
    """A1: `--table t` → SELECT * FROM t."""
    return f"SELECT * FROM {quote_ident(table)}"


# Enum labels in ordinal order (A3 for enums): run through pgcopy.run_sql.
# Column types and a composite's fields come from pgcopy._describe.
ENUM_LABELS_SQL = """
SELECT t.typname AS enum_name, e.enumlabel AS label
FROM pg_type t JOIN pg_enum e ON e.enumtypid = t.oid
ORDER BY t.typname, e.enumsortorder
"""


def rewrite_query_for_exotics(
    query: str, columns: list[str], exotic_columns: dict[str, str]
) -> str:
    """Wrap exotic output columns in ::text so they transport as text.

    ``columns`` is the query's full output column list (from the A3 schema
    probe); ``exotic_columns`` maps column name → pg type class
    ('enum'|'range'|'composite'|'vector'|'sparsevec'|'multidim_array').
    Names are preserved so the typemap parsers can rebuild structure
    client-side (SURVEY §7.3 step 4 strategy); multidim arrays additionally
    ship their server-side dims as ``<col>__dims``.
    """
    if not exotic_columns:
        return query
    parts: list[str] = []
    for c in columns:
        q = quote_ident(c)
        kind = exotic_columns.get(c)
        if kind is None:
            parts.append(f"q.{q}")
        elif kind == "multidim_array":
            parts.append(f"(q.{q})::text AS {q}")
            parts.append(f"array_dims(q.{q}) AS {quote_ident(c + '__dims')}")
        else:
            parts.append(f"(q.{q})::text AS {q}")
    return f"SELECT {', '.join(parts)} FROM ({query}) q"
