"""Seeded generator of the query workload's input tables.

Writes the ten parquet tables the query registries read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names, types and value domains of the
project's star-schema test data, at about 1/1000 of TPC-H scale
(6,000 lineitem rows). The same seed gives byte-identical tables.
"""
from pathlib import Path

import numpy as np
import pandas as pd

CUSTOMERS = 150
SUPPLIERS = 10
PARTS = 200
ORDERS = 1500
LINEITEMS = 6000
EVENTS = 1000
USERS = 150
DOCUMENTS = 500
EMBEDDINGS = 500
DIM = 64
LABELS = 10

WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "large"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SOURCES = 20


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def build(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, CUSTOMERS).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, CUSTOMERS),
        "c_mktsegment": rng.choice(SEGMENTS, CUSTOMERS)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": rng.integers(0, 25, SUPPLIERS).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, SUPPLIERS)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(PARTS, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, PARTS), rng.choice(P_NOUN, PARTS))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, PARTS)],
        "p_type": rng.choice(P_TYPES, PARTS),
        "p_size": rng.integers(1, 51, PARTS).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(PARTS) % 1000) * 0.1, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", 2400, ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, ORDERS)})
    order_of_line = rng.integers(0, ORDERS, LINEITEMS).astype(np.int64)
    linenumber = np.zeros(LINEITEMS, dtype=np.int32)
    seen = {}
    for i, o in enumerate(order_of_line):
        seen[o] = seen.get(o, 0) + 1
        linenumber[i] = min(seen[o], 7)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": order_of_line,
        "l_partkey": rng.integers(0, PARTS, LINEITEMS).astype(np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, LINEITEMS).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, LINEITEMS).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, LINEITEMS),
        "l_discount": rng.integers(0, 11, LINEITEMS) / 100.0,
        "l_tax": rng.integers(0, 9, LINEITEMS) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], LINEITEMS),
        "l_linestatus": rng.choice(["F", "O"], LINEITEMS),
        "l_shipdate": _days(rng, "1995-01-02", 2500, LINEITEMS)})
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, EVENTS))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, USERS, EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, EVENTS),
        "value": np.round(rng.exponential(60.0, EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]})
    texts = []
    for i in range(DOCUMENTS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, DOCUMENTS),
        "source": [f"src{i % SOURCES}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(0.0, 1.0, (LABELS, DIM))
    labels = rng.integers(0, LABELS, EMBEDDINGS)
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)})
    return t


def write(out_dir: Path, seed: int) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, df in build(seed).items():
        df.to_parquet(out_dir / f"{name}.parquet", index=False)
