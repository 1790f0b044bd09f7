"""Seeded input tables for the benchmark.

Writes the ten parquet tables graft's query registry reads (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`, `events`,
`documents`, `embeddings`) with the schemas and value distributions of the
project's standard test corpora, scaled by a row-count factor. The same
seed always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "large hot blue old small red green dark light shiny rusty tiny heavy".split()
NOUN = "ring bolt plate anvil widget".split()
DIM = 64


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _days(rng, n, lo, hi):
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(lo_d, hi_d + 1, n)
    return d * 86_400_000_000


def generate(out, seed, scale=1.0):
    """Rows per table at scale 1: 5,000 documents, 2,000 embeddings,
    100,000 events, 150,000 orders, 600,000 line items."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = lambda base: max(10, int(base * scale))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n(15000)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)})

    ns = n(1000)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})

    npart = n(20000)
    keys = np.arange(npart)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), npart), rng.integers(0, len(NOUN), npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})

    no = n(150000)
    odate = _days(rng, no, "1995-01-01", "2001-08-01")
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)})

    nl = n(600000)
    lok = rng.integers(0, no, nl)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, nl) * 86_400_000_000)})

    # Events: one month of activity, ~67 events per user, ascending ts.
    ne = n(100000)
    nu = max(5, ne * 3 // 200)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, nu, ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    # Documents: 10-100 words from a small vocabulary; exactly 5% are an
    # earlier original's text plus " dup", the near-duplicates the dedup
    # rows find. Lengths and the duplicate rate are fixed properties of
    # the workload; the seed only arranges them.
    nd = n(5000)
    lengths = rng.permutation(np.resize(np.arange(10, 101), nd))
    n_dup = round(nd * 0.05)
    is_dup = np.zeros(nd, bool)
    is_dup[11 + rng.choice(nd - 11, n_dup, replace=False)] = True
    texts = []
    for i in range(nd):
        if is_dup[i]:
            src = rng.choice(np.flatnonzero(~is_dup[:i]))
            texts.append(texts[src] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, lengths[i])))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.permutation(np.resize(
            ["en"] * 41 + ["de"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["zh"] * 14, nd)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # Embeddings: unit vectors around ten label centres, 1/10 per label.
    # The centres do not depend on the seed, so neither does the geometry
    # the quantizers train on.
    nv = n(2000)
    label = rng.permutation(np.resize(np.arange(10), nv))
    centres = np.random.default_rng(0).normal(0.0, 1.0, (10, DIM))
    v = centres[label] + rng.normal(0.0, 1.0, (nv, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})

