"""LIVE PostgreSQL wire tests over the COPY transport (sources/pgcopy.py).

COPY through ``psql`` is the package's one PG transport, proven here against
a real PostgreSQL 15 server in the default suite. The module self-manages
the server through tools/livepg.py (throwaway cluster under /tmp, trust
auth, port 55432, fixture schema from ci/pg/init.sql) and skips cleanly
where initdb/psql are absent.

Wire-proven here (vs the string/fixture unit tests):
- A1 table scans and A2 query pushdown transport real rows via COPY, and
  the CLI exports a live table;
- partitioned reads split into per-range tasks without row loss;
- NULL, '' and sentinel-looking text stay distinct, and rows of several
  MiB decode whole;
- no psql child outlives its task, whether the consumer stops early or the
  server fails mid-stream, and an export failing that way keeps the
  previous dataset at its path;
- the A4 precedence (DATABASE_URL with libpq ?host= socket syntax) and
  sslmode reach psql, and libpq parses whatever a URL carries: ``options``,
  multi-host netlocs, socket-directory hosts, JDBC's ``ssl=true``;
- the A3 schema probe (PostgreSQL describing the statement it will COPY)
  serves table= and query= reads, types columns through typmods and
  domains, works on a read-only server and never runs psql meta-commands
  found in a query; ENUM_LABELS_SQL reads the real pg_catalog;
- range and composite text holding every character the field grammar
  quotes parses to PG's own bound, flag and field accessors;
- the exotic rewrite -> text wire -> typemap-parse chain round-trips REAL
  server-rendered enum/range/composite/vector/multidim text (reference
  parity: the reference's py-tests/wrappers.py:96-129 exercises the same
  surface against its CI container).
"""

from __future__ import annotations

import dataclasses
import os
import re
import shutil
import subprocess
import sys
import time
from decimal import Decimal

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

_HAVE_PG = all(shutil.which(t) for t in ("initdb", "pg_ctl", "psql"))

pytestmark = pytest.mark.skipif(
    not _HAVE_PG, reason="no local PostgreSQL install (initdb/pg_ctl/psql)"
)


@pytest.fixture(scope="module")
def live_pg():
    r = subprocess.run(
        [sys.executable, "tools/livepg.py", "start"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    if r.returncode != 0:
        # PostgreSQL is installed (else the module is skipped): a server that
        # cannot start is a failure, not a reason to skip the wire suite
        pytest.fail(f"local PG could not start: {r.stdout} {r.stderr}"[:300])
    from pg2parquet_spark.sources import pgcopy

    return pgcopy.PostgresConnection(host="/tmp", port=55432, dbname="postgres", user="postgres")


def _psql(live_pg, sql: str) -> None:
    from pg2parquet_spark.sources import pgcopy

    argv, env = pgcopy.psql_command(live_pg)
    subprocess.run(argv + ["-c", sql], check=True, capture_output=True, env={**os.environ, **env})


def test_copy_table_scan_transports_typed_rows(spark, live_pg):
    from pg2parquet_spark.sources import pgcopy

    df = pgcopy.read(spark, live_pg, table="plain")
    assert df.count() == 1000
    types = dict(df.dtypes)
    assert types["id"] == "bigint" and types["score"] == "double"
    assert types["created"] == "date"
    row = df.filter(F.col("id") == 7).collect()[0]
    assert row.name == "row_7" and row.score == 3.5


def test_copy_partitioned_read_preserves_all_rows(spark, live_pg):
    from pg2parquet_spark.sources import pgcopy

    df = pgcopy.read(
        spark,
        live_pg,
        table="plain",
        partition_column="id",
        lower_bound=1,
        upper_bound=1001,
        num_partitions=4,
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    assert df.select("id").distinct().count() == 1000
    # range splits are disjoint: the global sum survives
    assert df.agg(F.sum("id")).collect()[0][0] == 1000 * 1001 // 2
    # every range gets its own task: partition i holds exactly range i
    per_part = (
        df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"), F.min("id").alias("lo"))
        .orderBy("p")
        .collect()
    )
    assert [(r.p, r.n, r.lo) for r in per_part] == [
        (0, 250, 1), (1, 250, 251), (2, 250, 501), (3, 250, 751)
    ]
    # ...placed without a shuffle
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_copy_table_scan_keeps_identifier_case_and_quotes(spark, live_pg):
    """The probe describes the scan's own quoted ``table_query``: PG must
    not case-fold "MixedCase", and a quote in the name must not break it."""
    from pg2parquet_spark.sources import pgcopy

    for table in ("MixedCase", "it's"):
        ident = '"' + table.replace('"', '""') + '"'
        _psql(live_pg, (
            f"DROP TABLE IF EXISTS {ident}; "
            f"CREATE TABLE {ident} (id int, \"Label\" text); "
            f"INSERT INTO {ident} VALUES (1, 'a'), (2, NULL)"
        ))
        df = pgcopy.read(spark, live_pg, table=table)
        assert dict(df.dtypes) == {"id": "int", "Label": "string"}
        assert sorted(df.collect()) == [(1, "a"), (2, None)]


def test_copy_query_pushdown_runs_server_side(spark, live_pg):
    from pg2parquet_spark.sources import pgcopy

    df = pgcopy.read(
        spark, live_pg,
        query="SELECT count(*) AS n, max(id) AS mx FROM plain WHERE id <= 10",
    )
    row = df.collect()[0]
    # ad-hoc queries transport as text by contract
    assert (row.n, row.mx) == ("10", "10")


def test_env_precedence_database_url(spark, live_pg, monkeypatch):
    from pg2parquet_spark.sources import pgcopy

    url = "postgres://postgres@/postgres?host=/tmp&port=55432"
    monkeypatch.setenv("DATABASE_URL", url)
    argv, _ = pgcopy.psql_command(pgcopy.PostgresConnection())
    assert argv[-2:] == ["-d", url]
    assert pgcopy.read(spark, pgcopy.PostgresConnection(), table="plain").count() == 1000


def test_url_options_set_the_search_path(spark, live_pg):
    """A URL's ``?options=-csearch_path%3D<schema>`` reaches the server: a
    ``table=`` read resolves a table that exists only in that schema."""
    from pg2parquet_spark.sources import pgcopy

    _psql(live_pg, (
        "DROP SCHEMA IF EXISTS url_stage CASCADE; CREATE SCHEMA url_stage; "
        "CREATE TABLE url_stage.staged_only (id int, s text); "
        "INSERT INTO url_stage.staged_only VALUES (1, 'a'), (2, 'b')"
    ))
    conn = pgcopy.PostgresConnection(
        url="postgres://postgres@%2Ftmp:55432/postgres?options=-csearch_path%3Durl_stage"
    )
    assert sorted(pgcopy.read(spark, conn, table="staged_only").collect()) == [(1, "a"), (2, "b")]


def test_multi_host_url_skips_a_dead_host(spark, live_pg):
    """libpq tries a multi-host URL's hosts in order: a dead first host
    falls through to the live one."""
    from pg2parquet_spark.sources import pgcopy

    conn = pgcopy.PostgresConnection(url="postgres://postgres@127.0.0.1:1,127.0.0.1:55432/postgres")
    assert pgcopy.read(spark, conn, table="plain").count() == 1000


def test_socket_dir_host_in_the_url_connects(spark, live_pg):
    """A percent-encoded host is a socket directory, as libpq reads it."""
    from pg2parquet_spark.sources import pgcopy

    conn = pgcopy.PostgresConnection(url="postgres://postgres@%2Ftmp:55432/postgres")
    assert pgcopy.run_sql(conn, "SELECT inet_server_port()") == [(None,)]  # not TCP


def test_live_catalog_probe_enum_and_composite(spark, live_pg):
    from pg2parquet_spark.sources import pgcopy

    labels = [
        lab for name, lab in pgcopy.run_sql(live_pg, pgcopy.ENUM_LABELS_SQL) if name == "mood"
    ]
    assert labels == ["sad", "ok", "happy"]  # pg_enum order = ordinal order
    fields = pgcopy._describe(pgcopy.psql_command(live_pg), "SELECT (NULL::dims).*")
    assert fields == [("w", "integer"), ("h", "integer")]
    types = dict(pgcopy.read(spark, live_pg, table="exotic").dtypes)
    assert types["id"] == "bigint" and types["m"] == "string"


def test_describe_types_through_typmods_and_domains(spark, live_pg):
    """The probe's ``format_type`` names carry typmods: the typed columns
    get the same Spark types as without them. Arrays and varchar stay text.
    A domain reports its base type, as it does in the wire protocol's row
    description (the reference's ``statement.columns()``)."""
    from pg2parquet_spark.sources import pgcopy

    _psql(live_pg, """
        DROP TABLE IF EXISTS typmods; DROP DOMAIN IF EXISTS posint;
        CREATE DOMAIN posint AS int CHECK (VALUE > 0);
        CREATE TABLE typmods (n numeric(12,2), ts timestamp(3), tz timestamptz(0),
          s int2, f float4, b bool, v varchar(5), a int4[], d posint);
        INSERT INTO typmods VALUES (1.25, '2024-01-02 03:04:05.678', '2024-01-02 03:04:05+00',
          7, 1.5, true, 'abc', '{1,2}', 9), (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);
    """)
    df = pgcopy.read(spark, live_pg, table="typmods")
    assert df.dtypes == [
        ("n", "decimal(38,18)"), ("ts", "timestamp_ntz"), ("tz", "timestamp"),
        ("s", "smallint"), ("f", "float"), ("b", "boolean"), ("v", "string"),
        ("a", "string"), ("d", "int"),
    ]
    got = df.filter(F.col("s").isNotNull()).collect()[0]
    assert (got.n, got.s, got.f, got.b, got.v, got.a, got.d) == (
        Decimal("1.25"), 7, 1.5, True, "abc", "{1,2}", 9
    )
    assert str(got.ts) == "2024-01-02 03:04:05.678000"
    assert df.filter(F.col("s").isNull()).count() == 1


def test_read_runs_one_driver_psql(spark, live_pg, monkeypatch):
    """A ``table=`` and a ``query=`` read each start exactly one psql on
    the driver: the describe probe."""
    from pg2parquet_spark.sources import pgcopy

    calls, real_run = [], subprocess.run

    def run(argv, *a, **k):
        calls.append(argv[0])
        return real_run(argv, *a, **k)

    monkeypatch.setattr(subprocess, "run", run)
    pgcopy.read(spark, live_pg, table="plain")
    pgcopy.read(spark, live_pg, query="SELECT id FROM plain")
    assert calls == ["psql", "psql"]


def test_query_meta_commands_never_run(spark, live_pg, tmp_path):
    """A query is server text only: a psql meta-command inside it is a
    syntax error at the server, and never runs on the driver."""
    from pg2parquet_spark.sources import pgcopy

    marker = tmp_path / "x"
    with pytest.raises(RuntimeError, match="syntax error"):
        pgcopy.read(spark, live_pg, query=f"SELECT 1 AS a \\! touch {marker}")
    assert not marker.exists()


def test_read_only_server_serves_both_reads(spark, live_pg):
    """Describing a statement writes nothing: under
    ``default_transaction_read_only=on`` both read modes work."""
    from pg2parquet_spark.sources import pgcopy

    conn = pgcopy.PostgresConnection(
        url="postgres://postgres@%2Ftmp:55432/postgres"
        "?options=-cdefault_transaction_read_only%3Don"
    )
    on = "SELECT current_setting('default_transaction_read_only')"
    assert pgcopy.run_sql(conn, on) == [("on",)]
    df = pgcopy.read(spark, conn, table="plain")
    assert dict(df.dtypes)["id"] == "bigint" and df.count() == 1000
    row = pgcopy.read(spark, conn, query="SELECT count(*) AS n FROM plain").collect()[0]
    assert row.n == "1000"


def test_zero_column_query_names_the_query(spark, live_pg):
    """A statement without columns has nothing to export: the read refuses,
    naming the query."""
    from pg2parquet_spark.sources import pgcopy

    with pytest.raises(ValueError, match="SELECT FROM plain"):
        pgcopy.read(spark, live_pg, query="SELECT FROM plain")


def test_exotic_rewrite_roundtrip_live(spark, live_pg):
    """The full A2+A3 chain against a REAL server: rewrite (multidim dims)
    -> COPY's text wire -> typemap parsers -> typed values."""
    from pg2parquet_spark.sources import pgcopy
    from pg2parquet_spark.typemap.arrays import flatten_with_dims, parse_array_text
    from pg2parquet_spark.typemap.composites import parse_composite
    from pg2parquet_spark.typemap.enums import enum_to_int
    from pg2parquet_spark.typemap.pgvector import parse_vector
    from pg2parquet_spark.typemap.ranges import parse_range

    q = "SELECT id, m, r, d, v, grid FROM exotic"
    rewritten = pgcopy.rewrite_query_for_exotics(
        q,
        ["id", "m", "r", "d", "v", "grid"],
        {
            "m": "enum",
            "r": "range",
            "d": "composite",
            "v": "vector",
            "grid": "multidim_array",
        },
    )
    raw = pgcopy.read(spark, live_pg, query=rewritten)
    assert "grid__dims" in raw.columns  # dims shipped server-side
    parsed = raw.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("m").alias("mood_name"),
        enum_to_int(F.col("m"), ["sad", "ok", "happy"]).alias("mood_ord"),
        parse_range(F.col("r"), lambda c: c.cast("int")).alias("rng"),
        parse_composite(
            F.col("d"), ["w", "h"], [lambda c: c.cast("int")] * 2
        ).alias("d"),
        parse_vector(F.col("v")).alias("v"),
        flatten_with_dims(
            parse_array_text(F.col("grid"), "array<array<int>>"), 2, "dims"
        ).alias("grid"),
    )
    rows = {r.id: r for r in parsed.collect()}
    assert rows[1].mood_name == "happy" and rows[1].mood_ord == 3
    # server canonicalizes '[1,5)' -> bounds 1/5, lower inclusive
    assert (rows[1].rng.lower, rows[1].rng.upper) == (1, 5)
    assert rows[1].rng.lower_inclusive and not rows[1].rng.upper_inclusive
    assert (rows[1].d.w, rows[1].d.h) == (3, 4)
    assert [round(x, 4) for x in rows[1].v] == [0.1, 0.2, 0.3, 0.4]
    assert rows[1].grid.data == [1, 2, 3, 4] and rows[1].grid.dims == [2, 2]
    # '(,10]' canonicalizes to '(,11)': open lower NULL, upper exclusive 11
    assert rows[2].rng.lower is None and rows[2].rng.upper == 11
    assert rows[2].mood_name == "sad" and rows[2].mood_ord == 1
    # NULL row: NULL enum/composite/vector; 'empty' range flag set
    assert rows[3].mood_name is None and rows[3].mood_ord is None
    assert rows[3].rng.is_empty
    assert rows[3].d is None and rows[3].v is None


def test_copy_renders_exotics_as_their_text_cast(spark, live_pg):
    """COPY writes each column through its type's output function, the one
    a ``::text`` cast calls: every uncast exotic value equals its cast
    twin, NULLs included. The exotic rewrite casts nothing on this."""
    from pg2parquet_spark.sources import pgcopy

    rows = pgcopy.run_sql(live_pg, (
        "SELECT m, m::text, r, r::text, d, d::text, v, v::text, grid, grid::text "
        "FROM exotic ORDER BY id"
    ))
    assert len(rows) == 3 and None in rows[2]
    for row in rows:
        assert row[0::2] == row[1::2], row


@pytest.mark.parametrize("query", ["SELECT 1 AS a;", "SELECT 1 AS a -- note"])
@pytest.mark.parametrize("partitioned", [False, True])
def test_query_ending_in_semicolon_or_comment_reads(spark, live_pg, query, partitioned):
    """The caller's query is embedded one way: a trailing ``;`` goes and a
    trailing ``--`` comment ends before the closing paren."""
    from pg2parquet_spark.sources import pgcopy

    split = {"partition_column": "a", "lower_bound": 0, "upper_bound": 2,
             "num_partitions": 2} if partitioned else {}
    assert pgcopy.read(spark, live_pg, query=query, **split).collect() == [("1",)]
    assert pgcopy.run_sql(live_pg, "SELECT 1;") == [("1",)]


def test_partitioned_read_on_a_dotted_column(spark, live_pg):
    """A column named ``a.b`` is one identifier to the range predicates."""
    from pg2parquet_spark.sources import pgcopy

    _psql(live_pg, (
        'DROP TABLE IF EXISTS dotted; CREATE TABLE dotted ("a.b" int, s text); '
        "INSERT INTO dotted SELECT i, 's' || i FROM generate_series(1, 10) AS g(i)"
    ))
    df = pgcopy.read(
        spark, live_pg, table="dotted", partition_column="a.b",
        lower_bound=1, upper_bound=11, num_partitions=2,
    )
    assert sorted(r["a.b"] for r in df.collect()) == list(range(1, 11))


def test_range_and_composite_text_parse_to_pg_truth(spark, live_pg):
    """Server-rendered range and composite text holding every character the
    field grammar quotes (comma, quote, backslash, parenthesis, whitespace,
    '' and NULL) parses to PG's own lower/upper/lower_inc/upper_inc/isempty
    and (c).s/(c).n."""
    from pg2parquet_spark.sources import pgcopy
    from pg2parquet_spark.typemap import parse_composite, parse_range

    _psql(live_pg, r"""
        DROP TABLE IF EXISTS grammar_truth;
        DROP TYPE IF EXISTS grammar_textrange, grammar_pair;
        CREATE TYPE grammar_textrange AS RANGE (subtype = text);
        CREATE TYPE grammar_pair AS (s text, n int);
        CREATE TABLE grammar_truth (id int, r grammar_textrange, c grammar_pair);
        INSERT INTO grammar_truth VALUES
          (1, grammar_textrange('a,b', 'z'), ROW('a,b', 2)),
          (2, grammar_textrange(E'a\\b', 'c"d'), ROW('c"d', NULL)),
          (3, grammar_textrange('', ' x'), ROW(E'e\\f', -1)),
          (4, grammar_textrange('(p', '(q)'), ROW('(g)', 0)),
          (5, grammar_textrange(NULL, ' sp ace '), ROW(' ', 3)),
          (6, grammar_textrange('', '', '[]'), ROW('', 4)),
          (7, grammar_textrange('x', 'x'), ROW(NULL, NULL)),
          (8, grammar_textrange(E'a\tb', E'b\nc"\\', '(]'), ROW(E't\tn\n,"\\', 5)),
          (9, grammar_textrange('a', NULL, '(]'), NULL),
          (10, NULL, ROW('""', 6));
    """)
    raw = pgcopy.read(spark, live_pg, query=(
        "SELECT id, r::text AS r, lower(r) AS lo, upper(r) AS hi, lower_inc(r) AS lo_inc, "
        "upper_inc(r) AS hi_inc, isempty(r) AS emp, c::text AS c, (c).s AS s, (c).n AS n "
        "FROM grammar_truth"
    ))
    parsed = raw.select(
        "*",
        parse_range(F.col("r")).alias("rng"),
        parse_composite(F.col("c"), ["s", "n"], [lambda c: c, lambda c: c.cast("int")])
        .alias("comp"),
    ).orderBy(F.col("id").cast("int"))
    rows = parsed.collect()
    assert len(rows) == 10
    flag = {"t": True, "f": False}
    for r in rows:
        if r.r is None:
            assert r.rng is None
        else:
            want = (r.lo, r.hi, flag[r.lo_inc], flag[r.hi_inc], flag[r.emp])
            assert tuple(r.rng) == want, (r.id, r.r)
        if r.c is None:
            assert r.comp is None
        else:
            want = (r.s, None if r.n is None else int(r.n))
            assert (r.comp.s, r.comp.n) == want, (r.id, r.c)
    # the rows are the edge cases they claim to be
    by_id = {r.id: r for r in rows}
    assert by_id["1"].r == '["a,b",z)' and by_id["1"].c == '("a,b",2)'
    assert by_id["2"].r == r'["a\\b","c""d")'
    assert by_id["6"].rng.lower == "" and by_id["7"].rng.is_empty
    assert by_id["10"].comp.s == '""'


def test_copy_null_vs_empty_string_fidelity(spark, live_pg):
    """PG's CSV NULL is an unquoted empty field and '' goes out quoted: the
    decoder must keep NULL, '', the old sentinel's text and CSV-hostile text
    apart — in text reads, typed table reads and one-column rows (whose
    NULL is an empty line)."""
    from pg2parquet_spark.sources import pgcopy

    row = pgcopy.read(
        spark, live_pg,
        query=(
            "SELECT 1 AS i, ''::text AS empty_s, NULL::text AS null_s, "
            "'__PG_NULL__'::text AS marker, 'a,\"b'::text AS quoted"
        ),
    ).collect()[0]
    assert row.empty_s == "" and row.null_s is None
    assert row.marker == "__PG_NULL__" == pgcopy.NULL_MARKER
    assert row.quoted == 'a,"b'

    values = ["", None, "__PG_NULL__", 'a,"b', "line\nbreak"]
    _psql(live_pg, (
        "DROP TABLE IF EXISTS null_fidelity, null_one_col; "
        "CREATE TABLE null_fidelity (id int, s text); "
        "INSERT INTO null_fidelity VALUES (1, ''), (2, NULL), "
        "(3, '__PG_NULL__'), (4, 'a,\"b'), (5, E'line\\nbreak'); "
        "CREATE TABLE null_one_col AS SELECT s FROM null_fidelity"
    ))
    got = sorted(pgcopy.read(spark, live_pg, table="null_fidelity").collect())
    assert [r.s for r in got] == values
    one_col = [r.s for r in pgcopy.read(spark, live_pg, table="null_one_col").collect()]
    assert sorted(one_col, key=repr) == sorted(values, key=repr)


def test_copy_reads_rows_larger_than_a_block(spark, live_pg):
    """Values of several MiB (bytea travels as hex, twice its size) and a
    quoted value with a million newlines must read whole: no row may
    straddle two of pyarrow's decode blocks."""
    from pg2parquet_spark.sources import pgcopy

    _psql(live_pg, (
        "DROP TABLE IF EXISTS big_rows; "
        "CREATE TABLE big_rows (id int, t text, b bytea); "
        "INSERT INTO big_rows VALUES "
        "(1, repeat('x', 5000000), decode(repeat('ab', 3000000), 'hex')), "
        "(2, repeat(E'a,\"b\\n', 1000000), NULL), (3, 'small', '\\x00')"
    ))
    got = sorted(pgcopy.read(spark, live_pg, table="big_rows").collect())
    assert [(r.id, len(r.t), r.b and len(r.b)) for r in got] == [
        (1, 5_000_000, 6_000_002), (2, 5_000_000, None), (3, 5, 4)
    ]
    assert got[0].t == "x" * 5_000_000 and got[0].b == "\\x" + "ab" * 3_000_000
    assert got[1].t == 'a,"b\n' * 1_000_000
    ((t,),) = pgcopy.run_sql(live_pg, "SELECT t FROM big_rows WHERE id = 2")
    assert t == 'a,"b\n' * 1_000_000


def _live_psql(token: str) -> list[int]:
    """Pids of running psql processes whose command line carries ``token``."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
            with open(f"/proc/{pid}/stat") as f:
                state = f.read().rpartition(")")[2].split()[0]
        except OSError:
            continue
        if (
            os.path.basename(argv[0]) == b"psql"
            and token.encode() in b" ".join(argv)
            and state != "Z"
        ):
            pids.append(int(pid))
    return pids


def _assert_no_psql_left(token: str, seconds: float = 10.0) -> None:
    deadline = time.monotonic() + seconds
    while _live_psql(token):
        assert time.monotonic() < deadline, f"psql {_live_psql(token)} outlived its task"
        time.sleep(0.2)


def test_no_psql_outlives_an_early_stop(spark, live_pg):
    """limit(1) stops consuming a 10M-row COPY after the first batch: the
    task's psql child must go with it."""
    from pg2parquet_spark.sources import pgcopy

    df = pgcopy.read(
        spark, live_pg,
        query="SELECT g AS early_stop_probe, md5(g::text) FROM generate_series(1, 10000000) g",
    )
    assert len(df.limit(1).collect()) == 1
    _assert_no_psql_left("early_stop_probe")


def test_no_psql_outlives_a_failed_copy(spark, live_pg):
    """A COPY the server aborts mid-stream fails the task with PG's own
    error, and leaves no psql child behind."""
    from pg2parquet_spark.sources import pgcopy

    df = pgcopy.read(
        spark, live_pg,
        query="SELECT 1 / (g - 50000) AS mid_stream_probe FROM generate_series(1, 100000) g",
    )
    with pytest.raises(PySparkException, match="division by zero"):
        df.collect()
    _assert_no_psql_left("mid_stream_probe")


def test_failed_copy_export_keeps_previous_dataset(spark, live_pg, tmp_path):
    """An export whose COPY the server aborts after rows have flowed raises,
    and the dataset a previous export published at the same path survives
    byte for byte, with no staging directory and no psql child left."""
    from pg2parquet_spark.export import export
    from pg2parquet_spark.sources import pgcopy

    out = str(tmp_path / "plain")
    export(pgcopy.read(spark, live_pg, table="plain"), out, quiet=True)

    def tree() -> dict[str, bytes]:
        return {
            os.path.relpath(os.path.join(d, f), out): open(os.path.join(d, f), "rb").read()
            for d, _, fs in os.walk(out) for f in fs
        }

    before = tree()
    failing = pgcopy.read(
        spark, live_pg,
        query="SELECT g AS publish_probe, 1 / (g - 50000) AS q FROM generate_series(1, 100000) g",
    )
    with pytest.raises(PySparkException, match="division by zero"):
        export(failing, out, quiet=True)
    assert tree() == before
    head, name = os.path.split(out)
    staged, aside = os.path.join(head, f".{name}._tmp"), os.path.join(head, f".{name}._old")
    assert not os.path.exists(staged) and not os.path.exists(aside)
    assert spark.read.parquet(out).count() == 1000
    _assert_no_psql_left("publish_probe")


def test_sslmode_disable_connects(spark, live_pg):
    from pg2parquet_spark.sources import pgcopy

    conn = dataclasses.replace(live_pg, host="127.0.0.1", sslmode="disable")
    assert pgcopy.read(spark, conn, query="SELECT 1 AS one").collect()[0].one == "1"


def test_sslmode_require_refuses_plain_server(spark, live_pg):
    """The fixture server has no SSL: sslmode=require over TCP must refuse
    rather than silently connect in clear text."""
    from pg2parquet_spark.sources import pgcopy

    conn = dataclasses.replace(live_pg, host="127.0.0.1", sslmode="require")
    with pytest.raises(RuntimeError, match="SSL"):
        pgcopy.read(spark, conn, query="SELECT 1")


def test_jdbc_ssl_true_refuses_plain_server(spark, live_pg):
    """JDBC's ``?ssl=true`` means sslmode=require to libpq: against the
    fixture server, which has no SSL, the read refuses rather than connect
    in clear text."""
    from pg2parquet_spark.sources import pgcopy

    conn = pgcopy.PostgresConnection(
        url="jdbc:postgresql://127.0.0.1:55432/postgres?user=postgres&ssl=true"
    )
    with pytest.raises(RuntimeError, match="SSL"):
        pgcopy.read(spark, conn, query="SELECT 1")


def test_cli_exports_live_table(spark, live_pg, tmp_path, monkeypatch):
    from pg2parquet_spark.cli import main

    for var in ("DATABASE_URL", "POSTGRES_URL"):
        monkeypatch.delenv(var, raising=False)
    out = str(tmp_path / "plain.parquet")
    assert main([
        "export", "-t", "plain", "-o", out, "-H", "/tmp", "-p", "55432",
        "-d", "postgres", "-U", "postgres", "--quiet",
    ]) == 0
    back = spark.read.parquet(out)
    types = dict(back.dtypes)
    assert (types["id"], types["score"], types["created"]) == ("bigint", "double", "date")
    assert back.count() == 1000
    row = back.filter(F.col("id") == 7).collect()[0]
    assert (row.name, row.score, str(row.created)) == ("row_7", 3.5, "2024-01-08")


def test_numeric_nan_and_overflow_read_as_null(spark, live_pg):
    """A typed ``numeric`` read goes through the decimal(38,18) conversion:
    NaN and a value too wide become NULL instead of failing the read."""
    from pg2parquet_spark.sources import pgcopy

    _psql(live_pg, (
        "DROP TABLE IF EXISTS numeric_edges; "
        "CREATE TABLE numeric_edges (id int, n numeric); "
        "INSERT INTO numeric_edges VALUES (1, 'NaN'), (2, 1e30), (3, 1.5), (4, NULL)"
    ))
    df = pgcopy.read(spark, live_pg, table="numeric_edges")
    assert dict(df.dtypes)["n"] == "decimal(38,18)"
    got = [r.n for r in df.orderBy("id").collect()]
    assert got == [None, None, Decimal("1.5"), None]


def test_bc_dates_keep_the_day_pg_stores(spark, live_pg, tmp_path):
    """COPY renders a BC date as ``YYYY-MM-DD BC``; the exported day number
    must equal PG's own ``d - DATE '1970-01-01'``, AD dates included."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2parquet_spark.export import export
    from pg2parquet_spark.sources import pgcopy

    _psql(live_pg, (
        "DROP TABLE IF EXISTS bc_dates; "
        "CREATE TABLE bc_dates (id int, d date); "
        "INSERT INTO bc_dates VALUES (1, '4713-01-01 BC'), (2, '0001-12-31 BC'), "
        "(3, '0044-03-15 BC'), (4, '0001-01-01'), (5, '1582-10-04'), "
        "(6, '2024-02-29'), (7, NULL), (8, '0001-02-29 BC')"
    ))
    truth = {
        int(i): None if n is None else int(n)
        for i, n in pgcopy.run_sql(
            live_pg, "SELECT id, d - DATE '1970-01-01' FROM bc_dates"
        )
    }
    out = str(tmp_path / "bc")
    export(pgcopy.read(spark, live_pg, table="bc_dates"), out, quiet=True)
    back = pq.read_table(out)
    days = back["d"].cast(pa.int32()).to_pylist()
    assert dict(zip(back["id"].to_pylist(), days)) == truth


@pytest.mark.parametrize("pg_type, value", [
    ("date", "infinity"), ("date", "-infinity"),
    ("timestamp", "infinity"), ("timestamptz", "-infinity"),
    ("timestamp", "0044-03-15 12:00:00 BC"),
])
def test_unconvertible_temporal_names_its_column(spark, live_pg, pg_type, value):
    """A value Spark's types cannot hold fails the read with an error that
    names the column and the value."""
    from pg2parquet_spark.sources import pgcopy

    _psql(live_pg, (
        "DROP TABLE IF EXISTS odd_temporal; "
        f"CREATE TABLE odd_temporal (id int, when_seen {pg_type}); "
        f"INSERT INTO odd_temporal VALUES (1, NULL), (2, '{value}')"
    ))
    df = pgcopy.read(spark, live_pg, table="odd_temporal")
    with pytest.raises(PySparkException, match=rf"column 'when_seen'.*{re.escape(value)}"):
        df.collect()


def test_report_rows_match_pg_count(spark, live_pg, tmp_path):
    """The export report's row count equals PG's count(*) for a
    partitioned COPY read."""
    from pg2parquet_spark.export import export
    from pg2parquet_spark.sources import pgcopy

    ((count,),) = pgcopy.run_sql(live_pg, "SELECT count(*) FROM plain")
    df = pgcopy.read(
        spark, live_pg, table="plain", partition_column="id",
        lower_bound=1, upper_bound=1001, num_partitions=4,
    )
    report = export(df, str(tmp_path / "plain"), quiet=True)
    assert report.rows == int(count) == 1000
    assert report.files == 4


def test_copy_empty_partition_ranges_yield_no_rows(spark, live_pg):
    """Ranges past the data (and a fully-empty result) must produce empty
    partitions, not a pandas EmptyDataError."""
    from pg2parquet_spark.sources import pgcopy

    df = pgcopy.read(
        spark, live_pg,
        table="plain",
        partition_column="id",
        lower_bound=1,
        upper_bound=100_000,  # 97% of ranges are beyond the data
        num_partitions=8,
    )
    assert df.count() == 1000
    empty = pgcopy.read(spark, live_pg, query="SELECT id FROM plain WHERE id < 0")
    assert empty.count() == 0
