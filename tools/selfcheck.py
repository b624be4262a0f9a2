#!/usr/bin/env python
"""Driver-style correctness self-check.

Runs every `queries()` entry on Spark at sf0.01 and the paired
`oracle_sql()` on DuckDB over the same parquet tables, then compares
row count, column-name set, and a value hash computed over columns
sorted by name and rows sorted by all columns. This mirrors the
driver's CORRECTNESS gate so mismatches surface before the round ends.

Usage: python tools/selfcheck.py [name-substring ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to tolerate float assoc differences between engines, but keep
        # enough digits (12) that real value drift still fails the mirror —
        # the local check must be at least as strict as the driver's gate
        return f"{v:.12g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.12g}"
    except Exception:
        pass
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    filters = sys.argv[1:]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from pg2parquet_spark.oracle import duckdb_connection
    from pg2parquet_spark.session import get_spark

    spark = get_spark(app_name="selfcheck")
    # CODEGEN HEALTH GATE (r7 verdict #7): with fallback disabled, any stage
    # whose generated Java fails to compile (janino 64 KB method limit et
    # al.) ERRORS the query instead of silently running interpreted — the
    # r7 finding where the primary embedding-LSH dedup ran interpreted for
    # a full round while every hash check stayed green. Running the whole
    # registry under this conf makes "compiles under whole-stage codegen" a
    # per-round verified property of all 200+ plans, not a log-reading
    # exercise.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    qs = entry.queries()
    oracles = entry.oracle_sql()

    names = [n for n in sorted(qs) if not filters or any(f in n for f in filters)]
    failures = []
    rowcounts: dict[str, int] = {}
    for name in names:
        if name not in oracles:
            print(f"SKIP  {name} (no oracle — rows-only check)")
            try:
                n_rows = qs[name](spark, SF_DIR).count()
                rowcounts[name] = n_rows
                print(f"      rows={n_rows}")
            except Exception as exc:
                failures.append(name)
                print(f"ERROR {name}: {exc}")
            continue
        try:
            sdf = qs[name](spark, SF_DIR)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = sdf.columns
            # ONE DuckDB connection PER QUERY, as run_compare opens: a heavy
            # oracle can exhaust a shared connection's buffer manager and
            # poison it for every later query ("bad allocation")
            con = duckdb_connection(SF_DIR)
            try:
                rel = con.execute(oracles[name])
                d_cols = [d[0] for d in rel.description]
                d_rows = rel.fetchall()
            finally:
                con.close()
        except Exception as exc:
            failures.append(name)
            print(f"ERROR {name}: {exc}")
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if not problems:
            sh = value_hash(s_rows, s_cols)
            dh = value_hash(d_rows, d_cols)
            if sh != dh:
                problems.append("value-hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            rowcounts[name] = len(s_rows)
            print(f"ok    {name} ({len(s_rows)} rows)")

    # Row-count sidecar for the vacuity tripwire (r8 verdict #1): a query
    # that returns 0 rows at BOTH selfcheck SFs is "green" only in the sense
    # that both engines agree on emptiness — its predicate has never moved a
    # row (q07/q11 filtered on n_name='FRANCE'/'GERMANY' against a corpus
    # whose names are NATION_0..24 for eight rounds).  tools/vacuity.py
    # reads two of these sidecars and fails on any 0-at-both entry.
    if not filters:
        tag = os.path.basename(SF_DIR.rstrip("/"))
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            f"SELFCHECK_ROWS_{tag}.json",
        )
        with open(out, "w") as fh:
            json.dump(rowcounts, fh, indent=0, sort_keys=True)
        print(f"rowcount sidecar -> {out}")

    print(f"\n{len(names) - len(failures)}/{len(names)} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
