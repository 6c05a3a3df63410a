"""Seeded input generation for the benchmark workloads.

Every table keeps the row counts and schema of the package's sf0.01 test
tables, so a run's cost depends on the seed only through the values drawn.
The same seed always gives the same rows.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["error", "signup", "purchase", "view", "click"])
N_USERS = 150
_WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split())
_EPOCH_2024_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000

# sf0.01 row counts of the package's test tables
ROWS = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
        "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
        "documents": 500, "embeddings": 500}


def events(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """``n`` rows of the ``events`` table with ids ``first_id`` onwards."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024_US
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def event_payload(row: dict) -> str:
    """The JSON message the replay source would publish for ``row``."""
    return json.dumps({k: row[k] for k in
                       ("event_id", "user_id", "event_type", "value",
                        "props")}, separators=(",", ":"))


def transform_reference(payload: dict) -> dict:
    """Plain-Python evaluation of the bridge transform
    ``{"id": event_id, "u": user_id, "kind": $uppercase(event_type),
    "v2": value * 2}`` — the oracle for sink and wire outputs."""
    return {"id": payload["event_id"], "u": payload["user_id"],
            "kind": payload["event_type"].upper(),
            "v2": payload["value"] * 2}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.01:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)])
        elif i and r < 0.06:  # near duplicate: earlier text plus one word
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS),
                                                      rng.integers(10, 100))]))
    langs = np.array(["en", "es", "zh", "de", "fr"])
    lang = langs[rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64
                ) -> pa.Table:
    label = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    x = centers[label] * 0.15 + rng.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_ord, n_li = ROWS["orders"], ROWS["lineitem"]
    day = _DAY_US
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    li_order = rng.integers(0, n_ord, n_li)
    li_ship = (_EPOCH_1995_US + order_days[li_order] * day
               + rng.integers(1, 122, n_li) * day)
    li_num = np.zeros(n_li, np.int32)
    order_idx = np.argsort(li_order, kind="stable")
    seen: dict[int, int] = {}
    for j in order_idx:
        k = int(li_order[j])
        seen[k] = seen.get(k, 0) + 1
        li_num[j] = seen[k]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust),
                                           2)),
            "c_mktsegment": pa.array(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"])[rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp),
                                           2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"part {i % 97}" for i in range(n_part)]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(
                ["ECONOMY", "SMALL", "LARGE", "MEDIUM", "STANDARD",
                 "PROMO"])[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
                rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": pa.array(_EPOCH_1995_US + order_days * day,
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"])[rng.integers(0, 5, n_ord)])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(li_num, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900, 2100, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[
                rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[
                rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(li_ship, pa.timestamp("us"))}),
    }


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table the registry queries read into ``out_dir``
    (one parquet file each, the layout ``tables.load`` expects)."""
    rng = np.random.default_rng([seed, 1])
    tabs = _tpch(rng)
    tabs["events"] = events(rng, ROWS["events"])
    tabs["documents"] = _documents(rng, ROWS["documents"])
    tabs["embeddings"] = _embeddings(rng, ROWS["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
