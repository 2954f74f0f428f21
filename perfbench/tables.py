"""Seeded generator of the parquet tables the query registry reads.

The tables have the names, column names and physical parquet types graft's
`Tables` readers expect (a TPC-H-like star schema plus `events`,
`documents` and `embeddings`), with value domains shaped like the project's
reference test data: the same segment, status, priority, brand, vocabulary
and label sets, so the registry's literal predicates select rows.

Sizes are fixed (they do not depend on the seed); the seed changes only the
values. The same seed writes the same bytes.

    python3 perfbench/tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "event_users": 150,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
EMBED_DIM = 64
EMBED_LABELS = 10
DUP_SHARE = 0.05


def _write(out_dir, name, columns):
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"])),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
    })
    parts = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, parts), rng.choice(PART_NOUN, parts))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, parts)]),
        "p_type": pa.array(rng.choice(PART_TYPES, parts)),
        "p_size": pa.array(rng.integers(1, 51, parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 2)),
    })
    orders = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], orders).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(STATUSES, orders)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, orders)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, orders)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, orders)),
    })
    items = n["lineitem"]
    flags = rng.choice(["A", "N", "R"], items)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, orders, items).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, parts, items).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], items).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, items).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, items).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, items)),
        "l_discount": pa.array(rng.integers(0, 11, items) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, items) / 100.0),
        "l_returnflag": pa.array(flags),
        "l_linestatus": pa.array(rng.choice(["F", "O"], items)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2500, items)),
    })
    events = n["events"]
    # Event times spread over January 2024 in ascending order, microsecond
    # resolution, like a clickstream export.
    offsets_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n["event_users"], events).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, events)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, events), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]),
    })
    docs = n["documents"]
    lengths = rng.integers(10, 100, docs)
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in lengths]
    # A share of documents are near-duplicates: another document's text
    # with one extra token, which the dedup operators must find.
    for i in np.flatnonzero(rng.random(docs) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, docs))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, docs)),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    vecs = n["embeddings"]
    labels = rng.integers(0, EMBED_LABELS, vecs).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    raw = centers[labels] + rng.normal(0.0, 0.8, (vecs, EMBED_DIM))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
        "embedding": pa.array(list(unit), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
