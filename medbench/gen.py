"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`) as one single-row-group
parquet file each, in the shape of the engine's test corpora: a TPC-H-like
star schema, a month of click-stream events, a small text corpus with
near-duplicates and unit-norm 64-d embeddings clustered by label.
Row counts scale linearly with `scale` (0.1 gives 600k lineitems).

The same (seed, scale) always yields byte-identical files.

    python3 gen.py --seed 7 --scale 0.1 --out DIR [--tables customer,orders]
"""
import argparse
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _rng(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def _pick(rng, values, n, p=None):
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def counts(scale):
    def c(base):
        return max(10, int(round(base * scale)))
    return {"customer": c(150000), "supplier": c(10000), "part": c(200000),
            "orders": c(1500000), "lineitem": c(6000000),
            "events": c(1000000), "users": c(15000),
            "documents": c(50000), "embeddings": c(20000)}


def build(table, seed, scale):
    n = counts(scale)
    if table == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if table == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    rng = _rng(seed, table)
    if table == "customer":
        k = n["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": _pick(rng, SEGMENTS, k)})
    if table == "supplier":
        k = n["supplier"]
        return pa.table({
            "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, k)})
    if table == "part":
        k = n["part"]
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        keys = np.arange(k, dtype=np.int64)
        return pa.table({
            "p_partkey": pa.array(keys),
            "p_name": _pick(rng, names, k),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _pick(rng, PART_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    if table == "orders":
        k = n["orders"]
        return pa.table({
            "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": pa.array(_days(
                rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), k)),
            "o_orderpriority": _pick(rng, PRIORITIES, k)})
    if table == "lineitem":
        k = n["lineitem"]
        qty = rng.integers(1, 51, k).astype(np.float64)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k)),
            "l_partkey": pa.array(rng.integers(0, n["part"], k)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k)),
            "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, k), 2),
            "l_discount": np.round(rng.integers(0, 11, k) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, k) * 0.01, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], k),
            "l_linestatus": _pick(rng, ["F", "O"], k),
            "l_shipdate": pa.array(_days(
                rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), k))})
    if table == "events":
        k = n["events"]
        base = np.datetime64("2024-01-01T00:00:00", "us")
        offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, k))
        return pa.table({
            "event_id": pa.array(np.arange(k, dtype=np.int64)),
            "ts": pa.array(base + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n["users"], k)),
            "event_type": _pick(rng, EVENT_TYPES, k),
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": _pick(rng, [f'{{"k": {i}}}' for i in range(100)], k)})
    if table == "documents":
        k = n["documents"]
        texts = []
        for i in range(k):
            r = rng.random()
            if i > 0 and r < 0.002:        # exact redelivery
                texts.append(texts[int(rng.integers(0, i))])
            elif i > 0 and r < 0.1:        # near-duplicate: 1-3 word edits
                toks = texts[int(rng.integers(0, i))].split(" ")
                for _ in range(int(rng.integers(1, 4))):
                    toks[int(rng.integers(0, len(toks)))] = \
                        WORDS[int(rng.integers(0, len(WORDS)))]
                texts.append(" ".join(toks))
            else:
                m = int(rng.integers(10, 101))
                texts.append(" ".join(
                    WORDS[j] for j in rng.integers(0, len(WORDS), m)))
        return pa.table({
            "doc_id": pa.array(np.arange(k, dtype=np.int64)),
            "text": texts,
            "lang": _pick(rng, LANGS, k, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if table == "embeddings":
        k = n["embeddings"]
        centers = rng.normal(0.0, 1.0, (10, 64))
        labels = rng.integers(0, 10, k)
        v = centers[labels] + rng.normal(0.0, 0.6, (k, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": pa.array(np.arange(k, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32))})
    raise ValueError(f"unknown table {table}")


def generate(out, seed, scale, tables=TABLES):
    """Writes `tables` under `out`; returns (input bytes, sha256 hex)."""
    os.makedirs(out, exist_ok=True)
    digest = hashlib.sha256()
    total = 0
    for t in tables:
        path = os.path.join(out, f"{t}.parquet")
        tb = build(t, seed, scale)
        pq.write_table(tb, path, row_group_size=max(1, tb.num_rows))
        with open(path, "rb") as f:
            data = f.read()
        digest.update(t.encode() + data)
        total += len(data)
    return total, digest.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tables", default=",".join(TABLES))
    a = ap.parse_args()
    size, sha = generate(a.out, a.seed, a.scale, a.tables.split(","))
    print(f"{size} bytes sha256={sha}")


if __name__ == "__main__":
    main()
