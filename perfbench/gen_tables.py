"""Catalog tables for the relational, llm_loops and stream_ingest workloads.

Writes the ten tables the catalog reads (`graft.core.Tables.names`), one
single-row-group parquet file each, with the schemas and value shapes of the
repository's sf0.1 test fixtures (TESTDATA.md, FIXTURES.md): every column
type equals the fixture file's. The fixture files store the timestamp columns,
events.ts included, as microseconds without UTC adjustment (FIXTURES.md
describes events.ts as nanoseconds; the files do not), so Tables.events takes
the same path here as on the fixtures. The content is a
pure function of DATA_SEED, so the DuckDB oracle results and the recorded
rows-only fingerprints hold on every checkout; the workload seed only
permutes query order.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# sf0.1 row counts (TESTDATA.md)
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}
VERSION = "tables-v1"

WORDS = ["query", "row", "stream", "the", "batch", "sort", "value", "hash",
         "filter", "big", "data", "spark", "line", "small", "fast", "group",
         "customer", "part", "column", "order", "scan", "a", "slow", "agg",
         "key", "window", "table", "merge", "vector", "join"]


def _ts(start, micros):
    base = np.datetime64(start, "us")
    return pa.array(base + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)], type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = ROWS["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = ROWS["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = ROWS["part"]
    adj = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    keys = np.arange(n)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    n = ROWS["orders"]
    order_days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts("1995-01-01",
                           rng.integers(0, order_days + 1, n) * 86400_000000),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})

    n = ROWS["lineitem"]
    ship_days = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts("1995-01-02",
                          rng.integers(0, ship_days + 1, n) * 86400_000000)})

    # event ids follow event time, as in the fixture (corr ~ 1)
    n = ROWS["events"]
    micros = np.sort(rng.integers(0, 30 * 86400_000000, n))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", micros),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    # documents: random-word texts; ~5% are near-duplicates of an earlier
    # document (one word changed, "dup" appended) and a few are exact
    # copies, so the dedup and MinHash operators find real clusters
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, 30)]
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    langs = np.asarray(["en", "zh", "de", "fr", "es"], dtype=object)[
        rng.choice(5, n, p=[0.41, 0.15, 0.14, 0.15, 0.15])]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(langs, pa.string()),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors around ten label centroids
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
