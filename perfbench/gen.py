"""Seeded input generator for the benchmark.

Writes the ten tables graft's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the schema, row counts, key ranges and value
distributions of graft's test data (a TPC-H-ish star schema with events,
documents and embeddings); perfbench/compare_inputs.py measures the two
side by side. The same (sf, seed) always gives byte-identical tables.

    python3 perfbench/gen.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMBED_DIM = 64
N_LABELS = 10


def sizes(sf):
    """Row counts per table at scale factor `sf`."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(base, offsets):
    return (np.datetime64(base, "D") + offsets.astype("timedelta64[D]")) \
        .astype("datetime64[us]")


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def generate(sf, seed):
    """All tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pick(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    keys = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": days("1995-01-01", rng.integers(0, 2404, no)),
        "o_orderpriority": pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": days("1995-01-02", rng.integers(0, 2499, nl))})
    ne = n["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + \
        np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    # 10-98 words each, drawn uniformly from a 30-word vocabulary; then
    # 5% of the documents, at random positions, become a near duplicate
    # of another one: its text plus a marker token. A copy of a document
    # that was itself replaced before makes a chain (x, x dup, x dup dup),
    # and a document replaced after it was copied leaves its copy without
    # a partner, as in the test data
    texts = [" ".join(np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 99, nd)]
    for i in rng.choice(nd, size=nd // 20, replace=False).tolist():
        j = int(rng.integers(0, nd - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": pick(rng, LANGS, nd, LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    labels = rng.integers(0, N_LABELS, nv)
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    x = rng.normal(0.0, 1.0, (nv, EMBED_DIM)) + 0.15 * centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(out_dir, sf, seed):
    """Write every table under `out_dir`, then a _SUCCESS marker; a
    directory that already has the marker is kept as it is."""
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        return sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(marker, "w").close()
    return sizes(sf)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
