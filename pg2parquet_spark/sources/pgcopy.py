"""PostgreSQL source over COPY — the package's one PG transport.

The reference speaks the native PG wire protocol single-threaded
(``postgres_cloner.rs:141-320``). This transport needs only ``psql``: each
Spark task shells out to it and streams ``COPY (SELECT ...) TO STDOUT
(FORMAT csv)``, the fastest bulk-export path PostgreSQL has (the
reference's own export loop is a COPY-shaped row stream for the same
reason).

Scale design:
- **Partitioned reads**: ``partition_column`` + bounds compile to N disjoint
  ``WHERE col >= lo AND col < hi`` range queries. The plan is
  ``spark.range(N, numPartitions=N)``, so each range gets its own task with
  no shuffle, and N executors hold N server-side COPY streams in parallel.
  Ranges are uniform in key space, not row count.
- **Arrow batches**: the executor cuts the COPY stream into blocks of
  whole rows (a row of any length fits), decodes each with ``pyarrow.csv``
  into text columns and hands the batches to the JVM (``mapInArrow``).
  `_cast_plan` types them JVM-side in one codegen'd projection.
- **NULL fidelity**: COPY's CSV NULL is an unquoted empty field, while an
  empty string goes out quoted (``""``). The decoder reads only unquoted
  empty fields as NULL, so NULL and ``''`` stay distinct with no sentinel.
- **One schema probe**: before the scan the driver asks PostgreSQL to
  describe the statement it will COPY (`_describe`), as the reference
  compiles its schema from ``client.prepare(query)`` →
  ``statement.columns()`` (``postgres_cloner.rs:297-303``). Nothing runs.
- **Prerequisites**: ``psql`` 12+ on the driver (``--csv``; ``\\gdesc``
  needs 11) and ``psql`` on every executor's PATH (it is on any PG client
  image), and this package importable, as for every Python kernel in it.
  The connection travels as :func:`psql_command`'s result: a URL whole as
  psql's ``-d`` conninfo (libpq parses it), parts and defaults as ``PG*``
  variables merged into the executor's own environment, and the password
  only in PGPASSWORD, never in argv.

Exotic types: read enum labels (:data:`ENUM_LABELS_SQL`) through
:func:`run_sql`, read the query here (COPY renders every column through its
type's output function, the text a ``::text`` cast would give; a
multidim array also needs :func:`rewrite_query_for_exotics` for its
``array_dims``), and rebuild structure with the typemap parsers.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import tempfile
from collections.abc import Iterator
from dataclasses import dataclass
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.csv as pacsv
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg2parquet_spark.typemap import numeric_to_decimal

# Not used by the transport (COPY's default CSV NULL keeps NULL and '' apart);
# kept for callers that run their own COPY with an explicit NULL string.
NULL_MARKER = "__PG_NULL__"


@dataclass
class PostgresConnection:
    """Connection args with the reference's precedence rules (A4)."""

    url: str | None = None  # postgres://... (or jdbc:postgresql://...) form
    host: str | None = None
    port: int = 5432
    dbname: str | None = None
    user: str | None = None
    password: str | None = None
    sslmode: str | None = None  # disable | prefer | require


def quote_ident(name: str) -> str:
    """Double-quote one PG identifier, dots and all.

    The reference interpolates the table name unquoted (main.rs:297-299);
    quoting is strictly safer and changes nothing for ordinary names.
    """
    return '"' + name.replace('"', '""') + '"'


def table_query(table: str) -> str:
    """A1: ``--table t`` → SELECT * FROM t; a dot separates schema and table."""
    return "SELECT * FROM " + ".".join(map(quote_ident, table.split(".")))


def _subquery(query: str) -> str:
    """The caller's query in parentheses, the one way it is embedded.

    Trailing whitespace and one trailing ``;`` go, and a newline before the
    closing paren ends a trailing ``--`` comment. A ``;`` followed by
    a comment stays, and fails at the server: finding it needs a lexer.
    """
    return f"({query.rstrip().removesuffix(';')}\n)"


# Enum labels in ordinal order (A3 for enums): run through run_sql.
# Column types and a composite's fields come from _describe.
ENUM_LABELS_SQL = """
SELECT t.typname AS enum_name, e.enumlabel AS label
FROM pg_type t JOIN pg_enum e ON e.enumtypid = t.oid
ORDER BY t.typname, e.enumsortorder
"""


def rewrite_query_for_exotics(
    query: str, columns: list[str], exotic_columns: dict[str, str]
) -> str:
    """Ship each multidim array's server-side dims as ``<col>__dims``, right
    after the column.

    ``columns`` is the query's full output column list (from the A3 schema
    probe); ``exotic_columns`` maps column name → pg type class
    ('enum'|'range'|'composite'|'vector'|'sparsevec'|'multidim_array').
    Every column keeps its name and COPY's text, which the typemap parsers
    rebuild client-side (SURVEY §7.3 step 4 strategy): COPY renders each
    value through its type's output function, as a ``::text`` cast would.
    Without a multidim array the query comes back unchanged.
    """
    if "multidim_array" not in exotic_columns.values():
        return query
    parts: list[str] = []
    for c in columns:
        parts.append(f"q.{quote_ident(c)}")
        if exotic_columns.get(c) == "multidim_array":
            parts.append(f"array_dims({parts[-1]}) AS {quote_ident(c + '__dims')}")
    return f"SELECT {', '.join(parts)} FROM {_subquery(query)} q"


def psql_command(conn: PostgresConnection) -> tuple[list[str], dict[str, str]]:
    """psql's argv and the ``PG*`` variables it runs with (merged into the
    environment of whichever process spawns it).

    Source: connection arg > DATABASE_URL > POSTGRES_URL > host/dbname parts
    (postgres_cloner.rs:222-240 precedence). A URL goes to psql whole as its
    ``-d`` conninfo and libpq parses it (IPv6 and multi-host netlocs,
    percent-encoding, ``options``, ``ssl*``, JDBC's ``ssl=true``). The parts,
    or for a URL the defaults, become PGHOST/PGPORT/PGDATABASE/PGUSER, which
    any field of the URL overrides. The only edits to a URL: the ``jdbc:``
    prefix goes, its password (userinfo or ``?password=``) moves to
    PGPASSWORD so no secret reaches argv, and an explicit ``sslmode``
    replaces the URL's. The password is the URL's, else the argument, else
    PGPASSWORD.
    """
    url = conn.url or os.environ.get("DATABASE_URL") or os.environ.get("POSTGRES_URL")
    if url:
        host, port, dbname = "localhost", 5432, "postgres"
    elif conn.host and conn.dbname:
        host, port, dbname = conn.host, conn.port, conn.dbname
    else:
        raise ValueError(
            "either a connection URL or host+dbname must be provided "
            "(or set DATABASE_URL)"
        )
    env = {"PGHOST": host, "PGPORT": str(port), "PGDATABASE": dbname}
    env["PGUSER"] = conn.user or "postgres"
    password = conn.password or os.environ.get("PGPASSWORD")
    argv = ["psql", "-X", "-q", "-v", "ON_ERROR_STOP=1"]  # -X: ignore .psqlrc
    if url:
        head, _, query = url.removeprefix("jdbc:").partition("?")
        scheme, sep, rest = head.partition("://")
        if not sep:
            raise ValueError("a connection URL must look like postgres://...")
        netloc, slash, path = rest.partition("/")
        if "@" in netloc:  # libpq splits the userinfo at the first '@'
            userinfo, netloc = netloc.split("@", 1)
            user, _, secret = userinfo.partition(":")
            password = unquote(secret) or password
            netloc = f"{user}@{netloc}" if user else netloc
        params = []
        for param in filter(None, query.split("&")):
            key, _, value = param.partition("=")
            if key == "password":
                password = unquote(value) or password  # the query beats the userinfo
            elif key != "sslmode" or not conn.sslmode:
                params.append(param)
        if conn.sslmode:  # last, so it also beats JDBC's ssl=true
            params.append(f"sslmode={conn.sslmode}")
        # not urlunsplit: it turns postgres:///db into postgres:/db
        query = "?" + "&".join(params) if params else ""
        argv += ["-d", f"{scheme}://{netloc}{slash}{path}{query}"]
    elif conn.sslmode:
        env["PGSSLMODE"] = conn.sslmode
    if password:
        env["PGPASSWORD"] = password
    return argv, env


def _copy(sql: str) -> str:
    """COPY in PG's default CSV dialect: NULL is an unquoted empty field."""
    return f"COPY {_subquery(sql)} TO STDOUT (FORMAT csv)"


# quoted values may span lines; an empty line is a one-column row holding NULL
_PARSE = pacsv.ParseOptions(newlines_in_values=True, ignore_empty_lines=False)
# bytes per decode; a longer row gets a block of its own
_BLOCK = 1 << 20


def _decode(rows: bytes, names: list[str]) -> pa.Table:
    """Decode whole CSV rows into text columns ``names`` as one pyarrow
    block: only an unquoted empty field is NULL.

    Single-threaded: a threaded pyarrow CSV read in the driver can abort
    its interpreter at exit (seen with numpy loaded).
    """
    return pacsv.read_csv(
        pa.BufferReader(rows),
        read_options=pacsv.ReadOptions(
            column_names=names, block_size=len(rows) + 1, use_threads=False
        ),
        parse_options=_PARSE,
        convert_options=pacsv.ConvertOptions(
            column_types={name: pa.string() for name in names},
            null_values=[""],
            strings_can_be_null=True,
            quoted_strings_can_be_null=False,
        ),
    )


def _row_end(data: bytes, quoted: bool) -> int:
    """Offset just past the last whole row in ``data``, or -1 if none ends.

    A newline ends a row iff an even number of quotes precede it: PG's CSV
    quotes every field holding a quote or a newline and doubles the quotes
    inside. ``quoted``: ``data`` starts inside a quoted field.
    """
    quotes, end = data.count(b'"') + quoted, len(data)
    while (nl := data.rfind(b"\n", 0, end)) >= 0:
        quotes -= data.count(b'"', nl, end)
        if quotes % 2 == 0:
            return nl + 1
        end = nl
    return -1


def _row_blocks(stream) -> Iterator[bytes]:
    """Cut a COPY CSV stream into blocks of whole rows, about ``_BLOCK``
    bytes each, so pyarrow never sees a row straddle two blocks."""
    head: list[bytes] = []  # the row still open across reads
    quoted = False
    while data := stream.read(_BLOCK):
        cut = _row_end(data, quoted)
        if cut < 0:
            head.append(data)
            quoted ^= data.count(b'"') % 2 == 1
            continue
        yield b"".join([*head, data[:cut]])
        head = [data[cut:]]
        quoted = data.count(b'"', cut) % 2 == 1
    if any(head):
        yield b"".join(head)


def _text_rows(raw: bytes) -> list[tuple[str | None, ...]]:
    """Decode a small COPY CSV result into rows of (text | None)."""
    if not raw:
        return []
    # rows share one width: take it from the last row, then decode as text
    last = raw[max(_row_end(raw[:-1], False), 0):]
    width = pacsv.read_csv(
        pa.BufferReader(last),
        read_options=pacsv.ReadOptions(
            autogenerate_column_names=True, block_size=len(last) + 1, use_threads=False
        ),
        parse_options=_PARSE,
    ).num_columns
    table = _decode(raw, [f"f{i}" for i in range(width)])
    return list(zip(*table.to_pydict().values()))


def _run_psql(
    command: tuple[list[str], dict[str, str]], args: list[str], script: bytes = b""
) -> bytes:
    """The driver's one ``psql`` call: ``psql_command``'s result plus
    ``args``, with ``script`` on stdin. Returns stdout."""
    argv, env = command
    proc = subprocess.run(
        argv + args, input=script, capture_output=True, env={**os.environ, **env}
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"psql failed (rc={proc.returncode}): "
            f"{proc.stderr.decode(errors='replace').strip()[:500]}"
        )
    return proc.stdout


def run_sql(conn: PostgresConnection, sql: str) -> list[tuple[str | None, ...]]:
    """Driver-side catalog/DDL helper: run ``sql`` through one COPY and
    return rows as tuples of (text | None). Meant for bounded catalog reads
    such as ENUM_LABELS_SQL, never table data."""
    return _text_rows(_run_psql(psql_command(conn), ["-c", _copy(sql)]))


# psql's script reader runs meta-commands (``\!`` included) wherever they
# appear, so the caller's text travels only in ``-c``, which goes to the
# server unlexed. stdin holds this fixed script. DEALLOCATE inside the one
# transaction leaves no statement behind on a pooler's server connection.
_GDESC = b"EXECUTE p \\gdesc\nDEALLOCATE p\n"


def _describe(command: tuple[list[str], dict[str, str]], query: str) -> list[tuple[str, str]]:
    """Ordered (name, ``format_type`` text with typmods) of the columns of
    ``SELECT * FROM (<query>) q``. PostgreSQL prepares the statement and
    describes it without executing it, so a read-only server serves it, and
    ``-1`` keeps PREPARE and EXECUTE in one transaction. A domain reports
    its base type. The leading constant column keeps psql printing rows for
    a statement with no columns of its own: it would print a translated
    notice instead."""
    rows = _text_rows(_run_psql(command, [
        "-t", "--csv", "-1", "-c", f"PREPARE p AS SELECT NULL AS _, * FROM {_subquery(query)} q",
        "-f", "-",
    ], _GDESC))
    if len(rows) < 2:
        raise ValueError(f"query has no columns to export: {query}")
    return rows[1:]  # type: ignore[return-value]


# format_type name, typmod stripped → Spark type. Everything absent from this
# map (arrays, enums, ranges, composites, varchar, ...) transports as text,
# which is what the exotic rewrite path wants — the typemap parsers take it
# from there. ``numeric`` is typed by the typemap's decimal conversion.
_PG_TO_SPARK: dict[str, str] = {
    "smallint": "smallint",
    "integer": "int",
    "bigint": "bigint",
    "real": "float",
    "double precision": "double",
    "boolean": "boolean",
    "date": "date",
    "timestamp without time zone": "timestamp_ntz",
    "timestamp with time zone": "timestamp",
}
_TYPMOD = re.compile(r"\(\d+(,\d+)?\)")


def _range_queries(
    query: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
) -> list[str]:
    """N half-open ranges covering all rows — first range takes everything
    below its upper edge, last range everything at/above its lower edge, so
    out-of-bounds rows are never dropped."""
    col = quote_ident(partition_column)
    span = max(upper_bound - lower_bound, 1)
    step = max(span // num_partitions, 1)
    edges = [lower_bound + i * step for i in range(1, num_partitions)]
    preds = []
    for i in range(num_partitions):
        lo = None if i == 0 else edges[i - 1]
        hi = edges[i] if i < len(edges) else None
        if lo is None and hi is None:
            preds.append("TRUE")
        elif lo is None:
            preds.append(f"q.{col} < {hi} OR q.{col} IS NULL")
        elif hi is None:
            preds.append(f"q.{col} >= {lo}")
        else:
            preds.append(f"q.{col} >= {lo} AND q.{col} < {hi}")
    return [f"SELECT * FROM {_subquery(query)} q WHERE {p}" for p in preds]


def _stream_copy(command: tuple[list[str], dict[str, str]], sql: str, names: list[str]):
    """Executor side: stream one COPY through psql as Arrow batches.
    ``command`` is the driver's ``psql_command``; its ``PG*`` variables merge
    into this executor's own environment.

    The pipe is consumed block by block, so executor memory stays bounded
    however hot the range is. stderr spools to a temp file (a PIPE could
    deadlock if psql filled it while we drain stdout). A consumer that
    stops early (``limit``) or fails closes the generator, and the
    ``finally`` kills psql: no child outlives its task.
    """
    argv, env = command
    with tempfile.TemporaryFile() as errf:
        proc = subprocess.Popen(
            argv + ["-c", _copy(sql)],
            stdout=subprocess.PIPE, stderr=errf, env={**os.environ, **env},
        )
        try:
            for rows in _row_blocks(proc.stdout):
                yield from _decode(rows, names).to_batches()
            if proc.wait() != 0:
                errf.seek(0)
                raise RuntimeError(
                    "psql COPY failed: "
                    f"{errf.read().decode(errors='replace').strip()[:500]}"
                )
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def read(
    spark: SparkSession,
    conn: PostgresConnection,
    query: str | None = None,
    table: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """COPY scan (A1/A2 + range splitter). Exactly one of query/table
    (main.rs:252-260).

    The driver runs one ``psql`` probe before the scan, for both modes:
    `_describe` of the statement it will COPY. ``table=`` reads return
    typed columns: `_cast_plan` types plain scalars and ``numeric``
    JVM-side, and everything else stays text for the typemap parsers.
    ``query=`` reads take only the column names, so every column arrives
    as text.
    """
    if (query is None) == (table is None):
        raise ValueError("exactly one of query= or table= must be given")
    if partition_column is None:
        split = {"num_partitions": num_partitions, "lower_bound": lower_bound,
                 "upper_bound": upper_bound}
        if unused := [name for name, value in split.items() if value is not None]:
            raise ValueError(f"{', '.join(unused)} would be ignored without partition_column")
    elif lower_bound is None or upper_bound is None:
        raise ValueError("partitioned reads need lower_bound/upper_bound")
    elif num_partitions is not None and num_partitions < 1:
        raise ValueError(f"num_partitions must be at least 1, got {num_partitions}")
    if shutil.which("psql") is None:
        raise RuntimeError("psql not on PATH — the COPY transport needs the PG client")
    command = psql_command(conn)
    if table is not None:
        query = table_query(table)
    cols = _describe(command, query)
    # query= columns stay text (README A2): typed, numeric NaN would be NULL before
    # perfbench's exotic job audits it (ROADMAP item 1)
    if table is None:
        cols = [(name, "text") for name, _ in cols]

    if partition_column is not None:
        part_queries = _range_queries(
            query, partition_column, lower_bound, upper_bound, num_partitions or 1
        )
    else:
        part_queries = [query]

    names = [c for c, _ in cols]
    text_schema = T.StructType([T.StructField(c, T.StringType()) for c in names])

    def _fetch(batches):
        for batch in batches:
            for part_id in batch.column("id").to_pylist():
                yield from _stream_copy(command, part_queries[part_id], names)

    # one range per task, no Exchange: range i lands alone in partition i
    n = len(part_queries)
    raw = spark.range(0, n, 1, n).mapInArrow(_fetch, schema=text_schema)
    return raw.select(*[_cast_plan(c, t) for c, t in cols])


def _cast_plan(col: str, pg_type: str):
    """JVM-side typing of transported text — codegen'd, never Python.
    ``numeric`` NaN and overflow become NULL (the reference's decimal mode),
    a BC date keeps PG's day, and a date or timestamp no cast takes
    (``infinity``, BC timestamps) fails the read naming the column."""
    text = F.col("`" + col.replace("`", "``") + "`")  # whole: a dot is no field access
    pg_type = _TYPMOD.sub("", pg_type)
    if pg_type == "numeric":
        return numeric_to_decimal(text, 38, 18).alias(col)
    spark_t = _PG_TO_SPARK.get(pg_type)
    if spark_t is None:
        return text
    if spark_t not in ("date", "timestamp_ntz", "timestamp"):
        return text.cast(spark_t).alias(col)  # PG's text of these always casts
    typed = text.try_cast(spark_t)
    if spark_t == "date":  # a cast reads PG's "YYYY-MM-DD BC" as AD
        typed = F.when(text.endswith(" BC"), F.to_date(text, "yyyy-MM-dd G")).otherwise(typed)
    refused = F.raise_error(F.concat(
        F.lit(f"column {col!r}: cannot convert PostgreSQL {pg_type} value '"),
        text, F.lit(f"' to {spark_t}"),
    ))
    # coalesce evaluates the cast once; a CASE over it would cast twice
    return F.coalesce(typed, F.when(text.isNotNull(), refused)).alias(col)
