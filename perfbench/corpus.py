"""Seeded TPC-H-shaped Parquet corpus for the query jobs of ``staged_export``.

Same table names and column types as the repository's test corpus (one
Parquet file per table), so the registered queries and their DuckDB oracles
run on it unchanged. Money values are whole cents divided by 100, which the
queries' exact-decimal casts rely on. Only the tables the caller names are
written.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "login"]
WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark the a "
    "line sort window order data column join small customer query big filter "
    "group stream index page cache plan shuffle spill task stage"
).split()


def _money(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _days(rng, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def generate(out_dir: str, seed: int, names, scale: float = 0.02) -> dict[str, int]:
    """Write the tables ``names`` of the corpus under ``out_dir``; returns
    {table: rows}. Every table is generated, so a table's contents depend
    only on the seed and the scale."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(int(10_000 * scale), 25)
    n_orders = int(1_500_000 * scale)
    n_events = int(1_000_000 * scale)
    n_docs = int(50_000 * scale)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 800, 500_000, n_orders),
        "o_orderdate": _days(rng, dt.date(1992, 1, 1), 2400, n_orders),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    l_orderkey = np.repeat(np.arange(n_orders), per_order)
    starts = np.cumsum(per_order) - per_order
    l_linenumber = np.arange(n_li) - np.repeat(starts, per_order) + 1
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * scale), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1992, 1, 2), 3650, n_li),
    })
    gaps = rng.exponential(240.0, n_events)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 50, 1), n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": _money(rng, 0, 100, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:  # near-duplicates feed the dedup stage
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(8, 90)))])
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: tables[name].num_rows for name in names}
