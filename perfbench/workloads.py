"""The benchmark's two workloads and the job kinds they are built from.

Each workload generates its inputs from the seed (``load_inputs``, repeated
during set-up), runs jobs (``build`` + ``JobPlan.write``: source call to
committed Parquet), and checks every output outside the timed window.
A pass is the fixed list of jobs a workload repeats; each job has a kind
(its label), and the metrics take medians per kind.
``JobPlan`` also names the cumulative prefixes the traced run materializes:
source; + typemap; + audit; + operators. A layer a job does not use
repeats the previous prefix's frames; the traced run then skips it.
"""

from __future__ import annotations

import decimal
import glob
import os
import random
import shutil
import subprocess
import time
from dataclasses import dataclass
from typing import Callable

import duckdb
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg2parquet_spark import typemap as tm
from pg2parquet_spark.export import export, export_audited
from pg2parquet_spark.options import ExportOptions
from pg2parquet_spark.sources import pgcopy
from pg2parquet_spark.typemap.arrays import parse_array_text

from perfbench import corpus
from perfbench.pgcluster import PgCluster

NULL = pgcopy.NULL_MARKER


@dataclass
class Context:
    spark: SparkSession
    work: str
    seed: int
    cpus: int
    scale: float = 1.0
    pg: PgCluster | None = None


@dataclass
class JobPlan:
    """One job, built but not yet run."""

    prefixes: dict[str, list[DataFrame]]  # layer -> frames that materialize it
    write: Callable[[], object]  # commits the output; returns check context
    rows: int  # source rows this job commits
    in_bytes: int  # source text (PG) or Parquet bytes the job reads
    label: str = ""
    driver_psql_calls: int = 0


@dataclass
class JobResult:
    label: str
    out_path: str
    rows: int
    in_bytes: int
    out_bytes: int
    wall_s: float
    extra: object = None
    error: str | None = None
    steal_frac: float = 0.0  # share of CPU time the hypervisor stole during the job


LAYERS = ("sources", "typemap", "audit", "operators")


def out_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


class _PsqlCounter:
    """Counts the psql processes the driver runs while the ``with`` block is
    open, by wrapping ``subprocess.run`` (the driver-side probes use it;
    the executors' COPY streams run in other processes and are unaffected)."""

    def __init__(self) -> None:
        self.calls = 0

    def __enter__(self) -> "_PsqlCounter":
        self._run = real_run = subprocess.run

        def run(argv, *a, **kw):
            self.calls += bool(argv) and argv[0] == "psql"
            return real_run(argv, *a, **kw)

        subprocess.run = run
        return self

    def __exit__(self, *exc) -> None:
        subprocess.run = self._run


class Workload:
    name = ""
    needs_pg = False
    pass_len = 1  # jobs per pass; the timed loop stops on pass boundaries

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.inputs = os.path.join(ctx.work, "inputs")

    def load_inputs(self) -> None:
        """Generate or stage the inputs the program reads (timed set-up)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time staging of the generated inputs (timed set-up, run once)."""

    def stage_truth(self) -> None:
        """Record what the outputs must equal (untimed; checking only)."""

    def build(self, job: int, out_path: str) -> JobPlan:
        raise NotImplementedError

    def check(self, res: JobResult) -> str | None:
        """None when the output is right, else what is wrong."""
        raise NotImplementedError

    def run_job(self, job: int, out_path: str) -> JobResult:
        t0 = time.perf_counter()
        plan = self.build(job, out_path)
        extra = plan.write()
        wall = time.perf_counter() - t0
        return JobResult(plan.label, out_path, plan.rows, plan.in_bytes, out_bytes(out_path), wall, extra)


# ---------------------------------------------------------------------------
# pg_scalar_export: live PG -> pgcopy.read (partitioned COPY) -> export()
# ---------------------------------------------------------------------------
SCALAR_DDL = """
SELECT setseed({seed});
CREATE TABLE bench_lineitem (
  l_id bigint, l_orderkey int, l_partkey bigint, l_linenumber int,
  l_quantity numeric(12,2), l_extendedprice numeric(15,2), l_discount float8,
  l_tax float8, l_returnflag text, l_shipdate date, l_receipt_ts timestamp,
  l_comment text);
INSERT INTO bench_lineitem
SELECT i, (random() * 150000)::int, (random() * 20000)::bigint, 1 + (random() * 6)::int,
  round((1 + random() * 49)::numeric, 2), round((900 + random() * 104000)::numeric, 2),
  CASE WHEN random() < 0.02 THEN NULL ELSE round((random() * 0.1)::numeric, 2)::float8 END,
  random() * 0.08,
  (ARRAY['A', 'N', 'R'])[1 + floor(random() * 3)::int],
  DATE '1992-01-01' + (random() * 2500)::int,
  TIMESTAMP '1992-01-01' + random() * INTERVAL '2500 days',
  CASE WHEN random() < 0.05 THEN NULL
       ELSE substr(md5(random()::text), 1, 8 + (random() * 24)::int) END
FROM generate_series(1, {rows}) i;
VACUUM (FREEZE, ANALYZE) bench_lineitem;
"""

# (label, SQL aggregate, parser for the server's text)
_D = decimal.Decimal
SCALAR_FINGERPRINT = [
    ("rows", "count(*)", int),
    ("sum_id", "sum(l_id)", int),
    ("sum_orderkey", "sum(l_orderkey)", int),
    ("sum_partkey", "sum(l_partkey)", int),
    ("sum_linenumber", "sum(l_linenumber)", int),
    ("sum_quantity", "sum(l_quantity)", _D),
    ("sum_extendedprice", "sum(l_extendedprice)", _D),
    ("nn_discount", "count(l_discount)", int),
    ("min_discount", "min(l_discount)", float),
    ("max_discount", "max(l_discount)", float),
    ("min_tax", "min(l_tax)", float),
    ("max_tax", "max(l_tax)", float),
    ("min_returnflag", "min(l_returnflag)", str),
    ("max_returnflag", "max(l_returnflag)", str),
    ("min_shipdate", "min(l_shipdate)", str),
    ("max_shipdate", "max(l_shipdate)", str),
    ("min_receipt", "min(l_receipt_ts)", str),
    ("max_receipt", "max(l_receipt_ts)", str),
    ("nn_comment", "count(l_comment)", int),
    ("len_comment", "sum(length(l_comment))", int),
    ("min_comment", "min(l_comment)", str),
    ("max_comment", "max(l_comment)", str),
]


def _norm_ts(v: str) -> str:
    import datetime as dt

    return dt.datetime.fromisoformat(v).isoformat(sep=" ")


def parquet_fingerprint(path: str) -> dict:
    t = ds.dataset(path, format="parquet").to_table()

    def mm(col):
        r = pc.min_max(t[col])
        return r["min"].as_py(), r["max"].as_py()

    def s(col):
        return pc.sum(t[col]).as_py()

    fp = {
        "rows": t.num_rows, "sum_id": s("l_id"), "sum_orderkey": s("l_orderkey"),
        "sum_partkey": s("l_partkey"), "sum_linenumber": s("l_linenumber"),
        "sum_quantity": s("l_quantity"), "sum_extendedprice": s("l_extendedprice"),
        "nn_discount": pc.count(t["l_discount"]).as_py(),
        "nn_comment": pc.count(t["l_comment"]).as_py(),
        "len_comment": pc.sum(pc.utf8_length(t["l_comment"])).as_py(),
    }
    for col, key in (("l_discount", "discount"), ("l_tax", "tax"), ("l_returnflag", "returnflag"),
                     ("l_shipdate", "shipdate"), ("l_receipt_ts", "receipt"), ("l_comment", "comment")):
        lo, hi = mm(col)
        fp[f"min_{key}"], fp[f"max_{key}"] = lo, hi
    for key in ("min_shipdate", "max_shipdate"):
        fp[key] = fp[key].isoformat()
    for key in ("min_receipt", "max_receipt"):
        fp[key] = fp[key].isoformat(sep=" ")
    return fp


class PgScalarExport(Workload):
    name = "pg_scalar_export"
    needs_pg = True
    table = "bench_lineitem"

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.rows = int(200_000 * ctx.scale)

    def load_inputs(self) -> None:
        pg = self.ctx.pg
        pg.execute(f"DROP TABLE IF EXISTS {self.table};")
        seed = (self.ctx.seed % 1_000_003) / 1_000_003
        pg.execute(SCALAR_DDL.format(seed=seed, rows=self.rows))

    def stage_truth(self) -> None:
        pg = self.ctx.pg
        row = pg.query(
            "SELECT " + ", ".join(sql for _, sql, _ in SCALAR_FINGERPRINT) + f" FROM {self.table}"
        ).strip().split("|")
        self.truth = {k: parse(v) for (k, _, parse), v in zip(SCALAR_FINGERPRINT, row)}
        for key in ("min_receipt", "max_receipt"):
            self.truth[key] = _norm_ts(self.truth[key])
        self.csv_bytes = pg.copy_length(f"SELECT * FROM {self.table}", NULL)

    def build(self, job: int, out_path: str) -> JobPlan:
        # a COPY stream keeps three processes busy (PG backend, psql, Python
        # worker) besides its JVM task: nproc/2 streams already fill the cores
        with _PsqlCounter() as calls:
            df = pgcopy.read(
                self.ctx.spark, self.ctx.pg.conn(), table=self.table,
                partition_column="l_id", lower_bound=1, upper_bound=self.rows + 1,
                num_partitions=max(1, self.ctx.cpus // 2),
            )
        return JobPlan(
            prefixes={layer: [df] for layer in LAYERS},
            write=lambda: export(df, out_path),
            rows=self.rows, in_bytes=self.csv_bytes, label="scan",
            driver_psql_calls=calls.calls,
        )

    def check(self, res: JobResult) -> str | None:
        got = parquet_fingerprint(res.out_path)
        bad = [k for k in self.truth if got.get(k) != self.truth[k]]
        return None if not bad else "fingerprint mismatch: " + ", ".join(
            f"{k}: pg={self.truth[k]!r} parquet={got.get(k)!r}" for k in bad[:4])


# ---------------------------------------------------------------------------
# the exotic job: staged server-rendered exotic text -> typemap parsers ->
# export_audited(single_file, sort_by id)
# ---------------------------------------------------------------------------
EXOTIC_DDL = """
SELECT setseed({seed});
CREATE TYPE bench_mood AS ENUM ('sad', 'ok', 'happy');
ALTER TYPE bench_mood ADD VALUE 'meh' BEFORE 'ok';
ALTER TYPE bench_mood ADD VALUE 'elated' AFTER 'happy';
CREATE TYPE bench_addr AS (street text, city text, zip int4);
CREATE TYPE bench_dims AS (w int4, h int4);
CREATE TABLE bench_exotic (id bigint, m bench_mood, r int4range, d bench_addr,
  p bench_dims, grid int4[], v text, num numeric, iv interval);
INSERT INTO bench_exotic
SELECT i,
  CASE WHEN random() < 0.05 THEN NULL
       ELSE (enum_range(NULL::bench_mood))[1 + floor(random() * 5)::int] END,
  CASE floor(random() * 10)::int
       WHEN 0 THEN 'empty'::int4range
       WHEN 1 THEN int4range(NULL, (random() * 1000)::int)
       WHEN 2 THEN int4range((random() * 1000)::int, NULL)
       WHEN 3 THEN NULL
       ELSE int4range((random() * 1000)::int, 1000 + (random() * 1000)::int, '[]') END,
  CASE WHEN random() < 0.05 THEN NULL
       ELSE ROW((random() * 999)::int || ' Main St, Apt "' || (random() * 99)::int || '"',
                CASE WHEN random() < 0.1 THEN NULL
                     ELSE (ARRAY['Oslo', 'New York', 'Rio de Janeiro', 'Zürich'])[1 + floor(random() * 4)::int] END,
                (random() * 99999)::int)::bench_addr END,
  ROW((random() * 1920)::int, (random() * 1080)::int)::bench_dims,
  CASE WHEN random() < 0.05 THEN NULL
       ELSE (SELECT array_agg(ARRAY[(random() * 100)::int, (random() * 100)::int, (random() * 100)::int])
             FROM generate_series(1, 1 + i % 3)) END,
  CASE WHEN random() < 0.05 THEN NULL
       ELSE '[' || array_to_string(ARRAY(SELECT round((random() * 2 - 1)::numeric, 4)
                                         FROM generate_series(1, 32 + 0 * i)), ',') || ']' END,
  CASE WHEN random() < 0.03 THEN 'NaN'::numeric ELSE round((random() * 2e6 - 1e6)::numeric, 3) END,
  make_interval(months => floor(random() * 40 - 20)::int, days => floor(random() * 60 - 30)::int,
                secs => round((random() * 200000 - 100000)::numeric, 6)::float8)
FROM generate_series(1, {rows}) i;
VACUUM (FREEZE, ANALYZE) bench_exotic;
"""

# the interval ships as the three fields PG stores (the binary wire form)
EXOTIC_SOURCE = """
SELECT id, m, r, d, p, grid, v, num,
  (extract(year FROM iv) * 12 + extract(month FROM iv))::int AS iv_months,
  extract(day FROM iv)::int AS iv_days,
  (extract(hour FROM iv) * 3600000000 + extract(minute FROM iv) * 60000000
   + extract(microseconds FROM iv))::bigint AS iv_us
FROM bench_exotic
"""
EXOTIC_COLUMNS = ["id", "m", "r", "d", "p", "grid", "v", "num", "iv_months", "iv_days", "iv_us"]
EXOTIC_KINDS = {"m": "enum", "r": "range", "d": "composite", "p": "composite",
                "grid": "multidim_array", "v": "vector"}

EXOTIC_TRUTH = f"""
SELECT id, array_position(enum_range(NULL::bench_mood), m) AS mood_ord,
  lower(r) AS r_lower, upper(r) AS r_upper, lower_inc(r)::int AS r_li,
  upper_inc(r)::int AS r_ui, isempty(r)::int AS r_empty,
  (d).street AS street, (d).city AS city, (d).zip AS zip,
  (p).w AS pw, (p).h AS ph,
  array_length(grid, 1) AS g_d1, array_length(grid, 2) AS g_d2,
  (SELECT sum(x) FROM unnest(grid) x) AS g_sum,
  (string_to_array(trim(BOTH '[]' FROM v), ','))[1]::real AS v_first,
  array_length(string_to_array(trim(BOTH '[]' FROM v), ','), 1) AS v_dim,
  (num = 'NaN')::int AS num_nan, CASE WHEN num = 'NaN' THEN NULL ELSE num::text END AS num_val,
  iv_months, iv_days, iv_us
FROM ({EXOTIC_SOURCE}) s
"""


def _le_hex(expr: str) -> str:
    return " || ".join(f"printf('%02X', ({expr} >> {8 * i}) & 255)" for i in range(4))


def _exotic_check_sql(out_glob: str, truth_csv: str) -> str:
    ms = "CAST((t.iv_us - t.iv_us % 1000) / 1000 AS BIGINT)"
    extra_days = f"CAST(({ms} - {ms} % 86400000) / 86400000 AS BIGINT)"
    flba = " || ".join([
        _le_hex("t.iv_months"), _le_hex(f"CAST(t.iv_days + {extra_days} AS INT)"),
        _le_hex(f"CAST({ms} % 86400000 AS INT)"),
    ])
    return f"""
WITH t AS (
  SELECT * REPLACE (CAST(iv_us AS BIGINT) AS iv_us, CAST(iv_months AS INT) AS iv_months,
                    CAST(iv_days AS INT) AS iv_days, CAST(id AS BIGINT) AS id)
  FROM read_csv('{truth_csv}', header = true, all_varchar = true, nullstr = '{NULL}')
), o AS (SELECT * FROM read_parquet('{out_glob}'))
SELECT count(*) AS n_bad, min(coalesce(t.id, o.id)) AS first_bad FROM t FULL OUTER JOIN o ON t.id = o.id
WHERE t.id IS NULL OR o.id IS NULL
   OR CAST(o.mood_ord AS VARCHAR) IS DISTINCT FROM t.mood_ord
   OR CAST(o.rng.lower AS VARCHAR) IS DISTINCT FROM t.r_lower
   OR CAST(o.rng.upper AS VARCHAR) IS DISTINCT FROM t.r_upper
   OR (t.r_li IS NOT NULL AND CAST(CAST(o.rng.lower_inclusive AS INT) AS VARCHAR) <> t.r_li)
   OR (t.r_ui IS NOT NULL AND CAST(CAST(o.rng.upper_inclusive AS INT) AS VARCHAR) <> t.r_ui)
   OR CAST(CAST(o.rng.is_empty AS INT) AS VARCHAR) IS DISTINCT FROM t.r_empty
   OR o.addr.street IS DISTINCT FROM t.street
   OR o.addr.city IS DISTINCT FROM t.city
   OR o.addr.zip IS DISTINCT FROM t.zip
   OR CAST(o.dims.w AS VARCHAR) IS DISTINCT FROM t.pw
   OR CAST(o.dims.h AS VARCHAR) IS DISTINCT FROM t.ph
   OR CAST(o.grid_flat.dims[1] AS VARCHAR) IS DISTINCT FROM t.g_d1
   OR CAST(o.grid_flat.dims[2] AS VARCHAR) IS DISTINCT FROM t.g_d2
   OR CAST(list_sum(o.grid_flat.data) AS VARCHAR) IS DISTINCT FROM t.g_sum
   OR o.vec[1] IS DISTINCT FROM CAST(t.v_first AS REAL)
   OR CAST(len(o.vec) AS VARCHAR) IS DISTINCT FROM t.v_dim
   OR o.num_dec IS DISTINCT FROM CAST(t.num_val AS DECIMAL(38, 18))
   OR hex(o.iv_flba) <> ({flba})
"""


class ExoticTypemapExport(Workload):
    """PG enum/range/composite/array/vector/numeric/interval text, staged to
    local Parquet once, through the typemap parsers into one ordered file."""

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.rows = int(5_000 * ctx.scale)
        self.staged = os.path.join(self.inputs, "exotic_staged")
        self.truth_csv = os.path.join(self.inputs, "exotic_truth.csv")

    def load_inputs(self) -> None:
        pg = self.ctx.pg
        pg.execute("DROP TABLE IF EXISTS bench_exotic; "
                   "DROP TYPE IF EXISTS bench_mood, bench_addr, bench_dims;")
        seed = (self.ctx.seed % 1_000_003) / 1_000_003
        pg.execute(EXOTIC_DDL.format(seed=seed, rows=self.rows))

    def prepare(self) -> None:
        """Read the table once through the exotic rewrite and the COPY
        transport, and stage the server-rendered text as local Parquet."""
        from pg2parquet_spark.sources.jdbc import ENUM_LABELS_SQL, rewrite_query_for_exotics

        conn = self.ctx.pg.conn()
        self.labels = [lab for name, lab in pgcopy.run_sql(conn, ENUM_LABELS_SQL) if name == "bench_mood"]
        self.query = rewrite_query_for_exotics(EXOTIC_SOURCE, EXOTIC_COLUMNS, EXOTIC_KINDS)
        os.makedirs(self.inputs, exist_ok=True)
        pgcopy.read(
            self.ctx.spark, conn, query=self.query, partition_column="id", lower_bound=1,
            upper_bound=self.rows + 1, num_partitions=self.ctx.cpus,
        ).write.mode("overwrite").parquet(self.staged)

    def stage_truth(self) -> None:
        pg = self.ctx.pg
        self.csv_bytes = pg.copy_length(self.query, NULL)
        self.n_nan = int(pg.query("SELECT count(*) FROM bench_exotic WHERE num = 'NaN'"))
        pg.copy_to_file(EXOTIC_TRUTH, self.truth_csv, NULL)

    def _conversions(self) -> dict:
        c = F.col
        as_int = lambda x: x.cast("int")  # noqa: E731
        return {
            "mood_ord": (c("m"), tm.enum_to_int(c("m"), self.labels)),
            "rng": (c("r"), tm.parse_range(c("r"), as_int)),
            "addr": (c("d"), tm.parse_composite_udf(c("d"), ["street", "city", "zip"])),
            "dims": (c("p"), tm.parse_composite_fast(c("p"), ["w", "h"], [as_int, as_int])),
            "grid_flat": (c("grid"), tm.flatten_with_dims(
                parse_array_text(c("grid"), "array<array<int>>"), 2, "dims")),
            "vec": (c("v"), tm.parse_vector(c("v"))),
            "num_dec": (c("num"), tm.numeric_to_decimal(c("num"), 38, 18)),
            "iv_flba": (c("iv_us"), tm.interval_to_flba12(c("iv_months"), c("iv_days"), c("iv_us"))),
        }

    def build(self, job: int, out_path: str) -> JobPlan:
        from pg2parquet_spark import audit

        src = self.ctx.spark.read.parquet(self.staged).select(
            F.col("id").cast("bigint").alias("id"), "m", "r", "d", "p", "grid", "v", "num",
            F.col("iv_months").cast("int").alias("iv_months"),
            F.col("iv_days").cast("int").alias("iv_days"),
            F.col("iv_us").cast("bigint").alias("iv_us"),
        )
        conv = self._conversions()
        typed = src.select("*", *[new.alias(name) for name, (_, new) in conv.items()])
        audited = audit.identify_bad_rows(src, conv, "id")
        opts = ExportOptions(single_file=True, sort_by=("id",))
        return JobPlan(
            prefixes={"sources": [src], "typemap": [typed], "audit": [audited], "operators": [audited]},
            write=lambda: export_audited(src, out_path, conv, opts, id_col="id", fail_on_nulled=False),
            rows=self.rows, in_bytes=self.csv_bytes, label="exotic",
        )

    def check(self, res: JobResult) -> str | None:
        files = glob.glob(os.path.join(res.out_path, "*.parquet"))
        if len(files) != 1:
            return f"expected one output file, got {len(files)}"
        ids = pq.read_table(files[0], columns=["id"])["id"].to_numpy()
        if len(ids) != self.rows or not (ids[1:] > ids[:-1]).all():
            return "output is not one row per id in id order"
        names = res.extra.select("col_name").toArrow()["col_name"]
        bad = {v["values"].as_py(): v["counts"].as_py() for v in pc.value_counts(names)}
        if bad != ({"num_dec": self.n_nan} if self.n_nan else {}):
            return f"audit report {bad} != {{'num_dec': {self.n_nan}}}"
        con = duckdb.connect()
        try:
            n_bad, first = con.execute(_exotic_check_sql(files[0], self.truth_csv)).fetchone()
        finally:
            con.close()
        return None if n_bad == 0 else f"{n_bad} rows differ from PG's structural truth (first id {first})"


# ---------------------------------------------------------------------------
# the query jobs: registered queries over a seeded Parquet corpus -> export()
# ---------------------------------------------------------------------------
QUERY_MIX = {  # registered query -> the corpus tables it reads
    "q05_local_supplier_volume": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q_window_topk_per_customer": ("orders",),
}


class _Frame:
    """Adapter: oracle.compare reads its Spark side through ``toPandas``."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class QueryExport(Workload):
    """The registered queries of ``QUERY_MIX`` over a seeded Parquet corpus."""

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.sf_dir = os.path.join(self.inputs, "corpus")
        self._oracle: dict[str, object] = {}
        self._accepted: dict[str, object] = {}  # query -> an output the oracle accepted

    def load_inputs(self) -> None:
        from pg2parquet_spark.registry import load_all

        shutil.rmtree(self.sf_dir, ignore_errors=True)
        tables = sorted({t for reads in QUERY_MIX.values() for t in reads})
        self.table_rows = corpus.generate(self.sf_dir, self.ctx.seed, tables, scale=0.02 * self.ctx.scale)
        self.table_bytes = {t: os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
                            for t in self.table_rows}
        self.registry = load_all()
        self._oracle.clear()
        self._accepted.clear()

    def build_query(self, name: str, out_path: str) -> JobPlan:
        from pg2parquet_spark.tables import table

        spark = self.ctx.spark
        scans = [table(spark, self.sf_dir, t) for t in QUERY_MIX[name]]
        df = self.registry[name].fn(spark, self.sf_dir)
        return JobPlan(
            prefixes={"sources": scans, "typemap": scans, "audit": scans, "operators": [df]},
            write=lambda: export(df, out_path),
            rows=sum(self.table_rows[t] for t in QUERY_MIX[name]),
            in_bytes=sum(self.table_bytes[t] for t in QUERY_MIX[name]),
            label=name,
        )

    def check(self, res: JobResult) -> str | None:
        from pg2parquet_spark.oracle import compare

        name = res.label
        if name not in self._oracle:
            con = duckdb.connect()
            try:
                for t in self.table_rows:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
                self._oracle[name] = con.execute(self.registry[name].oracle).df()
            finally:
                con.close()
        got = ds.dataset(res.out_path, format="parquet").to_table()
        if name in self._accepted and got.equals(self._accepted[name]):
            return None  # the same rows, in the same order, as an accepted output
        cmp = compare(name, _Frame(got.to_pandas()), self._oracle[name])
        if cmp.ok:
            self._accepted[name] = got
        return None if cmp.ok else str(cmp)


# ---------------------------------------------------------------------------
# staged_export: the exotic typemap job and the registered queries, all over
# inputs staged locally at set-up, so sources are trivial scans
# ---------------------------------------------------------------------------
class StagedExport(Workload):
    """One pass runs the exotic job and each query of ``QUERY_MIX`` once, in
    an order the seed permutes."""

    name = "staged_export"
    needs_pg = True  # PG renders the exotic text and its structural truth

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.exotic = ExoticTypemapExport(ctx)
        self.queries = QueryExport(ctx)
        self.order = ["exotic", *QUERY_MIX]
        random.Random(ctx.seed).shuffle(self.order)
        self.pass_len = len(self.order)

    def load_inputs(self) -> None:
        self.exotic.load_inputs()
        self.queries.load_inputs()

    def prepare(self) -> None:
        self.exotic.prepare()

    def stage_truth(self) -> None:
        self.exotic.stage_truth()

    def build(self, job: int, out_path: str) -> JobPlan:
        kind = self.order[job % self.pass_len]
        if kind == "exotic":
            return self.exotic.build(job, out_path)
        return self.queries.build_query(kind, out_path)

    def check(self, res: JobResult) -> str | None:
        return (self.exotic if res.label == "exotic" else self.queries).check(res)


WORKLOADS = {w.name: w for w in (PgScalarExport, StagedExport)}
