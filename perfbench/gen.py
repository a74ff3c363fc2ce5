"""Deterministic generator for the benchmark's fixture tables.

Writes the TPC-H-shaped star schema the engine reads (one parquet file per
table, the column names and types of FIXTURES.md) with the value
distributions of the repository's sf0.1 fixtures: uniform order->customer
and line->part keys (so customer degrees keep their Poisson skew), 1-7
lines per order, 64-dim float embeddings drawn N(0, 0.12), and documents
of 10-100 words over a 30-word vocabulary. Row counts scale with `sf`.

The tables are fixed by `GEN_SEED`; a workload seed only reorders how the
benchmark replays or visits them, so every seed measures the same data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "valve", "screw", "nut", "plate"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "embeddings", "documents"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, start="1992-01-01", days=2557):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def tables(sf):
    rng = np.random.default_rng(GEN_SEED)
    n_supp, n_cust, n_part = int(10000 * sf), int(150000 * sf), int(200000 * sf)
    n_ord, n_emb, n_doc = int(1500000 * sf), max(500, int(20000 * sf)), max(500, int(50000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + np.arange(n_part) % 20001 / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_dates(rng, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(lno),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_dates(rng, n_li))})
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 101, n_doc)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": [("de", "en", "es", "fr", "zh")[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    return out


def stream_events(t):
    """The co-purchase edge events of the streaming workloads: one per
    DISTINCT (customer, part) pair of orders x lineitem, carrying the part's
    embedding (vec_id = partkey mod #embeddings, the engine's convention),
    sorted by (customer, part). Returns (customer keys, n x 64 float32)."""
    okey = t["lineitem"]["l_orderkey"].to_numpy()
    cust = t["orders"]["o_custkey"].to_numpy()[okey]
    part = t["lineitem"]["l_partkey"].to_numpy()
    pairs = np.unique(np.stack([cust, part], axis=1), axis=0)
    emb = np.stack(t["embeddings"]["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    return pairs[:, 0], emb[pairs[:, 1] % len(emb)]


def write(sf, out_dir):
    """Write every table to `<out_dir>/<name>.parquet`, and the stream
    events to `stream_events.bin` (little-endian records of an int64
    customer key and 64 float32)."""
    os.makedirs(out_dir, exist_ok=True)
    ts = tables(sf)
    for name, t in ts.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    cust, vec = stream_events(ts)
    rec = np.zeros(len(cust), dtype=[("cust", "<i8"), ("vec", "<f4", (64,))])
    rec["cust"], rec["vec"] = cust, vec
    rec.tofile(os.path.join(out_dir, "stream_events.bin"))
