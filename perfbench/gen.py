"""Deterministic generator for the benchmark's input tables.

Writes the TPC-H-ish star schema plus the `events`, `documents` and
`embeddings` tables the engine's catalog reads, one parquet file per
table, with the shapes and value ranges the catalog's oracle SQL
assumes (2-decimal doubles, microsecond timestamps, a 31-word document
vocabulary with near-duplicate and exact-duplicate documents).

    python3 perfbench/gen.py <out_dir>

The tables are fixed: scale factor SCALE, DOCUMENTS documents, generated
from DATA_SEED. The workload seed never reaches them.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
COLORS = ["red", "blue", "green", "small", "large", "shiny"]
THINGS = ["widget", "bolt", "ring", "gear", "valve"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]
DAY_US = 86_400_000_000
SCALE = 0.001
DOCUMENTS = 240
DATA_SEED = 42


def money(rng, lo, hi, n):
    """2-decimal doubles in [lo, hi]."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def documents(rng, n):
    """Random token documents; ~6% near-duplicates (a lake document plus a
    `dup` token), ~4% exact token-set duplicates (shuffled copies) and ~5%
    too short to pass the quality gate."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.10:
            toks = texts[rng.integers(0, i)].split(" ")
            rng.shuffle(toks)
            texts.append(" ".join(toks))
        elif r < 0.15:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(2, 7))))
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 90))))
    # distinct texts (a shuffled copy can collide with its source)
    seen = set()
    for i, t in enumerate(texts):
        while t in seen:
            t = t + " " + VOCAB[rng.integers(0, len(VOCAB))]
        seen.add(t)
        texts[i] = t
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 0.12, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = (centers[label] + rng.normal(0.0, 0.06, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def tables(sf, seed, n_docs):
    rng = np.random.default_rng(seed)
    n_sup = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_sup, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_sup)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_sup))})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(
            [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)])})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{COLORS[a]} {THINGS[b]}" for a, b in zip(
            rng.integers(0, len(COLORS), n_part),
            rng.integers(0, len(THINGS), n_part))]),
        "p_brand": pa.array(
            [f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(
            [PART_TYPES[j] for j in rng.integers(0, 5, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(days(rng, "1995-01-01", 2404, n_ord)),
        "o_orderpriority": pa.array(
            [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * money(rng, 900.0, 2000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(
            [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(
            [("F", "O")[j] for j in rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(days(rng, "1995-01-02", 2498, n_line))})
    # strictly increasing microsecond timestamps over 30 days: no ties, so
    # as-of matches and resample buckets are unambiguous
    gaps = rng.integers(1, 2 * (30 * DAY_US) // n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(
            [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
        "value": pa.array(money(rng, 0.01, 490.0, n_ev)),
        "props": pa.array(
            [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)])})
    out["documents"] = documents(rng, n_docs)
    out["embeddings"] = embeddings(rng, n_emb)
    return out


def main():
    out_dir = sys.argv[1]
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(SCALE, DATA_SEED, DOCUMENTS).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    main()
