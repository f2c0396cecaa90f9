"""Seeded generator of the query tables (TPC-H-like star schema plus the
`events`, `documents` and `embeddings` tables) the `SparkEntry.queries`
keys read.

Value domains, types and row counts per scale factor follow the tables
the repository's oracle tier uses: `sf` 0.01 gives 60,000 lineitem rows.
Every table draws from its own stream of `numpy.random.default_rng`, so
the same seed writes the same tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _days(rng, start, end, n):
    """`n` midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def generate(out_dir, sf, seed):
    """Write the ten tables as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = {name: np.random.default_rng([seed, i]) for i, name in enumerate(NAMES)}
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    r = rng["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})

    r = rng["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp)})

    r = rng["part"]
    keys = np.arange(n_part)
    adj = np.asarray(ADJECTIVES, dtype=object)[r.integers(0, 8, n_part)]
    noun = np.asarray(NOUNS, dtype=object)[r.integers(0, 8, n_part)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})

    r = rng["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)})

    r = rng["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
                               pa.timestamp("us"))})

    r = rng["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], pa.string())})

    r = rng["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[r.integers(0, len(WORDS), r.integers(8, 100))])
             for _ in range(n_doc)]
    # one document in twenty repeats an earlier one with a marker word,
    # the near-duplicates the dedup keys look for
    for i in range(n_doc):
        if r.random() < 0.05:
            texts[i] = texts[int(r.integers(0, n_doc))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(r, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    r = rng["embeddings"]
    vec = r.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), i32)})

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
