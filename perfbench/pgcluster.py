"""A private, throwaway PostgreSQL cluster inside the benchmark's work dir.

The benchmark may only touch its own checkout, so it cannot reuse a
cluster under /tmp: every run does ``initdb`` into ``<work>/pgdata``, serves
on a free localhost TCP port (no unix socket, so no socket dir outside the
checkout) and stops the server when it ends.

PostgreSQL refuses to run as root. When the benchmark runs as root, the
server runs inside a user namespace that maps an unprivileged uid onto the
caller's uid: the server sees a non-root euid, and the kernel still checks
file access as the caller, so a checkout under a root-only directory works.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess

from pg2parquet_spark.sources.jdbc import PostgresConnection

# autovacuum off: the tables are loaded once and frozen by the loader, so
# no background vacuum competes with the timed jobs
SERVER_OPTS = (
    "-c fsync=off -c synchronous_commit=off -c full_page_writes=off "
    "-c shared_buffers=128MB -c max_connections=64 -c autovacuum=off"
)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgCluster:
    """One initdb'd, running server; ``stop`` ends it and removes its data."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.pgdata = os.path.join(root, "pgdata")
        self.port = 0
        self.version = ""

    # -- lifecycle ---------------------------------------------------------
    def _wrap(self, argv: list[str]) -> list[str]:
        if os.geteuid() != 0:
            return argv
        return ["unshare", "--user", "--map-user=1000", "--map-group=1000"] + argv

    def start(self) -> "PgCluster":
        for tool in ("initdb", "pg_ctl", "psql"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} not on PATH: the PG workloads need a PostgreSQL install")
        shutil.rmtree(self.pgdata, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)
        env = dict(os.environ, LC_ALL="C.UTF-8")
        r = subprocess.run(
            self._wrap(["initdb", "-D", self.pgdata, "-U", "postgres",
                        "--auth=trust", "-E", "UTF8", "--no-sync"]),
            capture_output=True, text=True, env=env,
        )
        if r.returncode != 0:
            raise RuntimeError(f"initdb failed: {r.stderr.strip()[:500]}")
        self.port = _free_port()
        r = subprocess.run(
            self._wrap(["pg_ctl", "-D", self.pgdata, "-w", "-t", "60",
                        "-l", os.path.join(self.root, "pg.log"),
                        "-o", f"-p {self.port} -k '' -c listen_addresses=127.0.0.1 {SERVER_OPTS}",
                        "start"]),
            capture_output=True, text=True, env=env,
        )
        if r.returncode != 0:
            raise RuntimeError(f"pg_ctl start failed: {r.stderr.strip()[:500]}")
        self.version = self.query("SHOW server_version").strip()
        return self

    def stop(self) -> None:
        if os.path.exists(os.path.join(self.pgdata, "postmaster.pid")):
            subprocess.run(
                self._wrap(["pg_ctl", "-D", self.pgdata, "-w", "-t", "60", "-m", "fast", "stop"]),
                capture_output=True, text=True,
            )
        shutil.rmtree(self.pgdata, ignore_errors=True)

    # -- client ------------------------------------------------------------
    def conn(self) -> PostgresConnection:
        return PostgresConnection(host="127.0.0.1", port=self.port, dbname="postgres", user="postgres")

    def psql_argv(self) -> list[str]:
        return ["psql", "-h", "127.0.0.1", "-p", str(self.port), "-U", "postgres",
                "-X", "-q", "-v", "ON_ERROR_STOP=1"]

    def execute(self, sql: str) -> None:
        r = subprocess.run(self.psql_argv(), input=sql, capture_output=True, text=True)
        if r.returncode != 0:
            raise RuntimeError(f"psql failed: {r.stderr.strip()[:800]}")

    def query(self, sql: str) -> str:
        """Unaligned, tuples-only text of one query (small results only)."""
        r = subprocess.run(self.psql_argv() + ["-A", "-t", "-c", sql], capture_output=True, text=True)
        if r.returncode != 0:
            raise RuntimeError(f"psql failed: {r.stderr.strip()[:800]}")
        return r.stdout

    def copy_to_file(self, sql: str, path: str, null_marker: str) -> int:
        """Server-side COPY of ``sql`` as CSV into ``path``; returns its byte length."""
        copy = f"COPY ({sql}) TO STDOUT (FORMAT csv, HEADER true, NULL '{null_marker}')"
        with open(path, "wb") as f:
            r = subprocess.run(self.psql_argv() + ["-c", copy], stdout=f, stderr=subprocess.PIPE)
        if r.returncode != 0:
            raise RuntimeError(f"COPY failed: {r.stderr.decode()[:800]}")
        return os.path.getsize(path)

    def copy_length(self, sql: str, null_marker: str) -> int:
        """Byte length of the headerless COPY CSV of ``sql`` — the text the
        COPY transport moves — streamed, never held in memory."""
        copy = f"COPY ({sql}) TO STDOUT (FORMAT csv, HEADER false, NULL '{null_marker}')"
        proc = subprocess.Popen(self.psql_argv() + ["-c", copy], stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL)
        n = 0
        try:
            while chunk := proc.stdout.read(1 << 20):
                n += len(chunk)
        finally:
            proc.stdout.close()
            rc = proc.wait()
        if rc != 0:
            raise RuntimeError(f"COPY length probe failed (rc={rc})")
        return n


def has_pgvector(cluster: PgCluster) -> bool:
    return cluster.query("SELECT count(*) FROM pg_available_extensions WHERE name = 'vector'").strip() == "1"

