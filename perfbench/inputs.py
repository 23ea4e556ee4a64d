"""Benchmark inputs: the fixed input tables and the seeded spec documents.

The tables are generated from a fixed seed, so every run of every
workload reads the same bytes and the committed output digests in
``expected.json`` stay valid. Their shapes follow the engine's test
tables (a TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``) at roughly the sf0.01 row counts.

The ``--seed`` of a run drives only what varies between runs: the
spec documents of ``etl_spec`` (segment and status literals, aggregate
kinds, join type) and the order of operations within each pass.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05

DAY_US = 86_400_000_000
EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for _ in range(N_DOCS):
        if texts and rng.random() < NEAR_DUP_SHARE:
            # near-duplicate of an earlier document, as crawled corpora have
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n)))
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables() -> dict[str, pa.Table]:
    """Every input table, built from ``TABLE_SEED`` alone."""
    rng = np.random.default_rng(TABLE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    names = rng.integers(0, len(PART_ADJ) * len(PART_NOUN), N_PART)
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{PART_ADJ[i // 8]} {PART_NOUN[i % 8]}" for i in names],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 1),
    })
    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(EPOCH_1995 + order_days * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    ship_days = rng.integers(1, 2499, N_LINEITEM)  # 1995-01-02 .. 2001-11-04
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _ts(EPOCH_1995 + ship_days * DAY_US),
    })
    offsets = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + offsets),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    t["documents"] = _documents(rng)
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })
    return t


def write_tables(data_dir: str) -> str:
    """Write every table as ``<data_dir>/<name>.parquet``; return a
    fingerprint of the table contents, which ``expected.json`` pins."""
    os.makedirs(data_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, table in tables().items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
        h.update(name.encode())
        for col in table.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Seeded spec documents for ``etl_spec``: one per ``examples/*.json`` shape,
# each emitted with the DuckDB SQL that computes the same result.
# ---------------------------------------------------------------------------

# Every join type a correlated count task accepts folds as a left join with
# a zero default (the reference's empty-result default row), so the SQL is
# the same for each; the spec still carries the seeded join type.
JOIN_TYPES = ["left", "inner", "right", "full_outer"]
# Aggregates over a BIGINT key stay integral, so the 2-decimal average in
# data_mapping is exact on both engines.
KEY_AGGS = ["count", "sum", "min", "max"]
# Aggregates over DECIMAL(18,2) prices are exact on both engines.
PRICE_AGGS = ["sum", "min", "max"]


def _mentor_report(rng: random.Random) -> tuple[dict, str]:
    seg, status = rng.choice(SEGMENTS), rng.choice(STATUSES)
    agg1, agg2 = rng.choice(KEY_AGGS), rng.choice(KEY_AGGS)
    jt1, jt2 = rng.choice(JOIN_TYPES), rng.choice(JOIN_TYPES)

    def task(name: str, where: str, agg: str, jt: str) -> dict:
        return {"single_process": {
            "input": name,
            "query": f"SELECT o_custkey, o_orderkey FROM orders{where}",
            "correlate_on": "o_custkey",
            "agg": agg, "agg_on": "o_orderkey",
            "join_on": "c_custkey", "join_type": jt, "rename": name,
        }}

    spec = {
        "input_data_schema": [{
            "name": "cust_report",
            "fetchId": {
                "query": f"SELECT c_custkey FROM customer WHERE c_mktsegment = '{seg}'",
                "id": "c_custkey",
            },
            "tasks": [
                task("total_orders", "", agg1, jt1),
                task("status_orders", f" WHERE o_orderstatus = '{status}'", agg2, jt2),
            ],
        }],
        "data_mapping": {"avg_activity": {"aggregation": {
            "agg_type": "average", "column_name": ["total_orders", "status_orders"],
        }}},
        "output_data_schema": {
            "c_custkey": {"Input_data_type": "LongType", "rename": "customer_id"},
            "total_orders": {"Input_data_type": "LongType", "rename": "n_orders"},
            "avg_activity": {"Input_data_type": "DoubleType", "rename": "activity"},
        },
    }
    sql = f"""
    WITH a AS (SELECT o_custkey, {agg1}(o_orderkey) AS v FROM orders GROUP BY o_custkey),
         b AS (SELECT o_custkey, {agg2}(o_orderkey) AS v FROM orders
               WHERE o_orderstatus = '{status}' GROUP BY o_custkey)
    SELECT c.c_custkey AS customer_id,
           CAST(coalesce(a.v, 0) AS BIGINT) AS n_orders,
           round((coalesce(a.v, 0) + coalesce(b.v, 0)) / 2.0, 2) AS activity
    FROM customer c
    LEFT JOIN a ON a.o_custkey = c.c_custkey
    LEFT JOIN b ON b.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = '{seg}'
    """
    return spec, sql


def _order_stats(rng: random.Random) -> tuple[dict, str]:
    seg = rng.choice(SEGMENTS)
    value_agg, top_agg = rng.sample(PRICE_AGGS, 2)
    jt = rng.choice(JOIN_TYPES)
    spec = {"input_data_schema": [{
        "name": "order_stats",
        "fetchId": {
            "query": f"SELECT c_custkey FROM customer WHERE c_mktsegment <> '{seg}'",
            "id": "c_custkey",
        },
        "tasks": [{"single_process": {
            "input": "stats",
            "query": "SELECT o_custkey, o_orderkey, "
                     "CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice FROM orders",
            "correlate_on": "o_custkey",
            "aggs": [
                {"agg": "count", "agg_on": "o_orderkey", "rename": "n_orders"},
                {"agg": value_agg, "agg_on": "o_totalprice", "rename": "total_value"},
                {"agg": top_agg, "agg_on": "o_totalprice", "rename": "biggest_order"},
            ],
            "join_on": "c_custkey", "join_type": jt,
        }}],
    }]}

    def fill(agg: str, col: str) -> str:
        # only additive aggregates default to 0 for customers without orders
        return f"coalesce(a.{col}, 0)" if agg == "sum" else f"a.{col}"

    sql = f"""
    WITH a AS (
      SELECT o_custkey, count(o_orderkey) AS n_orders,
             {value_agg}(CAST(o_totalprice AS DECIMAL(18,2))) AS total_value,
             {top_agg}(CAST(o_totalprice AS DECIMAL(18,2))) AS biggest_order
      FROM orders GROUP BY o_custkey)
    SELECT c.c_custkey AS c_custkey, coalesce(a.n_orders, 0) AS n_orders,
           {fill(value_agg, 'total_value')} AS total_value,
           {fill(top_agg, 'biggest_order')} AS biggest_order
    FROM customer c LEFT JOIN a ON a.o_custkey = c.c_custkey
    WHERE c.c_mktsegment <> '{seg}'
    """
    return spec, sql


SPEC_TEMPLATES = {"mentor_report": _mentor_report, "order_stats": _order_stats}


def specs(seed: int) -> dict[str, tuple[dict, str]]:
    """One seeded spec document per template, keyed by template name,
    each with the DuckDB SQL its output must match."""
    rng = random.Random(f"specs:{seed}")
    return {name: make(rng) for name, make in SPEC_TEMPLATES.items()}

