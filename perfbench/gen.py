"""Deterministic input tables for the benchmark.

Writes the ten parquet tables the graft queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one file per table, with the schemas, domains and rough
distributions of the project's sf0.01 test corpus: ~10 orders per
customer, Poisson(4) lines per order, a 6.5-year order-day span, a 30-day
event span over 150 users, 10-99-token documents from a 31-word
vocabulary with a few planted duplicates, and unit-norm 64-d embeddings.

The tables depend only on the generator seed below, never on the
benchmark's --seed, so every run measures the same data and the committed
fingerprints stay valid. An optional divisor shrinks the customer, part and
orders tables (and with them lineitem) for the pipeline's warm-up corpus.

Usage: python3 perfbench/gen.py <outDir> [divisor]
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20240101
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_EVENTS = 10000
N_EVENT_USERS = 150
N_DOCS = 500
N_VECS = 500

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def micros(y, m, d):
    epoch = datetime.datetime(1970, 1, 1)
    return int((datetime.datetime(y, m, d) - epoch).total_seconds()) * 1_000_000


def day_stamps(rng, n, first, last):
    days = (last - first) // 86_400_000_000
    return first + rng.integers(0, days + 1, n) * 86_400_000_000


def ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, domain, n):
    return np.array(domain, dtype=object)[rng.integers(0, len(domain), n)]


def write(out, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"))


def generate(out, divisor=1):
    rng = np.random.default_rng(SEED)
    n_customer, n_part, n_orders = (
        N_CUSTOMER // divisor, N_PART // divisor, N_ORDERS // divisor)
    os.makedirs(out, exist_ok=True)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    write(out, "customer", {
        "c_custkey": np.arange(n_customer, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customer)],
        "c_nationkey": rng.integers(0, 25, n_customer).astype(np.int32),
        "c_acctbal": money(rng, n_customer, -999.99, 9999.99),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n_customer)})
    write(out, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": money(rng, N_SUPPLIER, -999.99, 9999.99)})

    adjectives = ["blue", "hot", "large", "old", "red", "small", "green", "cold"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget", "spring"]
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, adjectives, n_part),
                                              pick(rng, nouns, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customer, n_orders).astype(np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": ts(day_stamps(rng, n_orders, micros(1995, 1, 1),
                                     micros(2001, 8, 1))),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_orders)})

    lines = rng.poisson(4.0, n_orders)
    n_li = int(lines.sum())
    order_of_line = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    line_starts = np.repeat(np.cumsum(lines) - lines, lines)
    quantity = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": order_of_line,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - line_starts + 1).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": ts(day_stamps(rng, n_li, micros(1995, 1, 2),
                                    micros(2001, 11, 4)))})

    span_us = 30 * 86_400_000_000
    write(out, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts(np.sort(micros(2024, 1, 1) + rng.integers(0, span_us, N_EVENTS))),
        "user_id": rng.integers(0, N_EVENT_USERS, N_EVENTS).astype(np.int64),
        "event_type": pick(rng, ["click", "view", "purchase", "signup", "error"],
                           N_EVENTS),
        "value": np.round(np.minimum(rng.exponential(60.0, N_EVENTS), 560.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})

    texts = []
    for i in range(N_DOCS):
        if i % 250 == 1:  # exact duplicate of the previous document
            texts.append(texts[-1])
        elif i % 200 == 2:  # near duplicate: one appended token
            texts.append(texts[-1] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in words))
    write(out, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": pick(rng, ["en"] * 8 + ["de", "es", "fr", "zh"] * 3, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.normal(size=(N_VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32)})


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit("usage: gen.py <outDir> [divisor]")
    generate(sys.argv[1], int(sys.argv[2]) if len(sys.argv) == 3 else 1)
