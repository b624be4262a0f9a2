#!/usr/bin/env python
"""Local live-PostgreSQL fixture manager for the wire tests.

It needs a PostgreSQL server install (initdb/pg_ctl/psql), no docker.
It initializes a throwaway cluster under /tmp, starts it on port 55432
(unix socket dir /tmp), and loads ``ci/pg/init.sql`` — degrading the
pgvector column to ``text`` when the extension isn't installed (the COPY
wire ships the same ``[x,y,...]`` literal either way; only the server-side
type tag differs, and the typemap parser consumes the text form). The
cluster outlives a checkout, so a marker table named after a hash of
``init.sql`` records which fixture text it holds; `start` reloads the
fixture when that text changes.

Root can't run postgres directly; when euid==0 the cluster runs as the
``daemon`` user via setpriv.

Usage: python tools/livepg.py {start|stop|status}
Exit 0 when the requested state holds. `start` is idempotent.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

PGDATA = "/tmp/pg2parquet_pgdata"
SOCKET_DIR = "/tmp"
PORT = 55432
DSN = f"postgres://postgres@/postgres?host={SOCKET_DIR}&port={PORT}"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(REPO, "ci", "pg", "init.sql")
MARKER_PREFIX = "pg2parquet_fixture_"


def fixture_marker(sql: str) -> str:
    """The marker table of a cluster loaded with fixture text ``sql``."""
    return MARKER_PREFIX + hashlib.sha256(sql.encode()).hexdigest()[:12]


def _fixture_sql() -> str:
    with open(FIXTURE) as f:
        return f.read()


def _as_pg_user(argv: list[str]) -> list[str]:
    if os.geteuid() == 0:
        return [
            "setpriv", "--reuid=daemon", "--regid=daemon", "--clear-groups",
            "env", "HOME=/tmp",
        ] + argv
    return argv


def _run(argv: list[str], **kw) -> subprocess.CompletedProcess:
    return subprocess.run(argv, capture_output=True, text=True, **kw)


def psql(sql: str) -> subprocess.CompletedProcess:
    return _run([
        "psql", "-h", SOCKET_DIR, "-p", str(PORT), "-U", "postgres",
        "-X", "-q", "-v", "ON_ERROR_STOP=1", "-c", sql,
    ])


def is_up() -> bool:
    return shutil.which("psql") is not None and psql("SELECT 1").returncode == 0


def fixture_loaded() -> bool:
    """The cluster holds the current text of ``ci/pg/init.sql``."""
    marker = fixture_marker(_fixture_sql())
    r = psql(f"SELECT 1 FROM pg_tables WHERE tablename = '{marker}'")
    return r.returncode == 0 and "1" in r.stdout


def load_fixture() -> None:
    """(Re)load ``ci/pg/init.sql`` and mark the cluster with its hash,
    dropping the marker of any fixture text loaded before."""
    sql = _fixture_sql()
    marker = fixture_marker(sql)
    has_vector = psql(
        "SELECT 1 FROM pg_available_extensions WHERE name = 'vector'"
    ).stdout.count("1 row")
    if not has_vector:
        sql = sql.replace(
            "CREATE EXTENSION IF NOT EXISTS vector;",
            "-- pgvector unavailable in this install: the v column degrades "
            "to text; the COPY wire carries the same '[x,...]' literal",
        ).replace("v vector(4)", "v text")
    preamble = (
        "DROP TABLE IF EXISTS plain, exotic CASCADE;\n"
        "DROP TYPE IF EXISTS mood, dims CASCADE;\n"
        "DO $$ DECLARE t text; BEGIN\n"
        f"  FOR t IN SELECT tablename FROM pg_tables WHERE tablename LIKE '{MARKER_PREFIX}%'\n"
        "  LOOP EXECUTE format('DROP TABLE %I', t); END LOOP;\n"
        "END $$;\n"
    )
    r = _run(
        ["psql", "-h", SOCKET_DIR, "-p", str(PORT), "-U", "postgres",
         "-X", "-q", "-v", "ON_ERROR_STOP=1"],
        input=preamble + sql + f"\nCREATE TABLE {marker} (ok bool);\n",
    )
    if r.returncode != 0:
        raise RuntimeError(f"fixture load failed: {r.stderr[:800]}")


def start() -> int:
    for tool in ("initdb", "pg_ctl", "psql"):
        if shutil.which(tool) is None:
            print(f"{tool} not installed — live-PG unavailable here")
            return 1
    if not is_up():
        if not os.path.exists(os.path.join(PGDATA, "PG_VERSION")):
            os.makedirs(PGDATA, exist_ok=True)
            if os.geteuid() == 0:
                shutil.chown(PGDATA, "daemon", "daemon")
            r = _run(_as_pg_user([
                "initdb", "-D", PGDATA, "-U", "postgres",
                "--auth=trust", "-E", "UTF8",
            ]))
            if r.returncode != 0:
                print(f"initdb failed: {r.stderr[:500]}")
                return 1
        r = _run(_as_pg_user([
            "pg_ctl", "-D", PGDATA,
            "-o", f"-p {PORT} -k {SOCKET_DIR} -c listen_addresses=127.0.0.1",
            "-l", "/tmp/pg2parquet_pg.log", "start",
        ]))
        if r.returncode != 0 and not is_up():
            print(f"pg_ctl start failed: {r.stderr[:500]}")
            return 1
    if not fixture_loaded():
        load_fixture()
    print(f"live PG up: {DSN}")
    return 0


def stop() -> int:
    r = _run(_as_pg_user(["pg_ctl", "-D", PGDATA, "stop", "-m", "fast"]))
    print(r.stdout.strip() or r.stderr.strip())
    return 0


def main() -> int:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "status"
    if cmd == "start":
        return start()
    if cmd == "stop":
        return stop()
    up = is_up()
    print(f"server: {'up' if up else 'down'}; fixture: "
          f"{'loaded' if up and fixture_loaded() else 'absent'}")
    return 0 if up else 1


if __name__ == "__main__":
    sys.exit(main())
