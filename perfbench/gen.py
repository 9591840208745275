"""Deterministic TPC-H-ish fixture generator for the migration benchmark.

Writes the ten tables the program reads (region nation customer supplier
part orders lineitem events documents embeddings), one parquet file each,
with the same schemas and value distributions as the project's fixtures.
The content depends only on the scale factor: the workload seed never
changes what is migrated or queried, only the order rows are inserted in
(see `permute`), so a result checksum is comparable across seeds.

Usage: python3 perfbench/gen.py <sf> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42  # fixed: the data is the same for every workload seed

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "red", "green", "hot", "large", "small", "dark", "pale"]
NOUNS = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "en", "fr", "fr", "es", "es", "de", "de", "zh", "zh"]
DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    """Return {name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(15, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    retail = 900.0 + (np.arange(n_part) % 1000) / 10.0
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[c]} {NOUNS[n]}" for c, n in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(retail, 1)})

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array((EPOCH_1995_MS + order_day * DAY_MS) * 1000,
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    # TPC-H shape: 1..7 lines per order, numbered 1..n, so
    # (l_orderkey, l_linenumber) is a key
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part]
                                    + rng.uniform(0, 100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            (EPOCH_1995_MS + (order_day[l_order] + rng.integers(1, 122, n_li))
             * DAY_MS) * 1000, pa.timestamp("us"))})

    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(EPOCH_2024_US + np.cumsum(gaps).astype(np.int64),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})

    # random word sequences; about 5% are near-duplicates of an earlier
    # document (one word swapped for "dup"), as in the project fixtures
    docs = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            words = list(docs[rng.integers(0, i)].split(" "))
            words[rng.integers(0, len(words))] = "dup"
        else:
            words = [WORDS[w] for w in rng.integers(0, 30, rng.integers(10, 101))]
        docs.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": docs,
        "lang": [LANGS[i] for i in rng.integers(0, 12, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})

    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(sf, out_dir):
    """Generate scale `sf` into `out_dir` (once; a marker file records it)."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(marker, "w").close()
    return out_dir


def permute(src_dir, out_dir, seed, names):
    """Copy `names` from `src_dir` with their rows in a seed-chosen order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in names:
        t = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        pq.write_table(t.take(rng.permutation(t.num_rows)),
                       os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    write(float(sys.argv[1]), sys.argv[2])
