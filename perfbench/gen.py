"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program reads (`graft.Tables`: region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the same column names, types
and value shapes as the project's TPC-H-ish test data: one row group per
file, timestamps as microsecond TIMESTAMP without time zone, prices with
two decimals, a 31-word document vocabulary with planted near-duplicate
documents, and unit-norm 64-dimensional float embeddings.

The same (seed, sf) always gives byte-identical values. Each table draws
from its own child stream of the seed, so one table's size never shifts
another's values.

Usage: python3 gen.py <out_dir> --seed N --sf 0.01
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "error", "purchase", "signup"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

US = 1_000_000
DAY = 86_400 * US
EPOCH_1995 = 788_918_400 * US  # 1995-01-01T00:00:00
DATE_DAYS = 2405  # 1995-01-01 .. 2001-08-01 inclusive
EVENTS_START = 1_704_067_200 * US  # 2024-01-01T00:00:00
EVENTS_SPAN = 30 * DAY

TS = pa.timestamp("us")


def sizes(sf: float) -> dict:
    return {
        "customer": max(50, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(50, round(200_000 * sf)),
        "orders": max(500, round(1_500_000 * sf)),
        "events": max(500, round(1_000_000 * sf)),
        "users": max(20, round(15_000 * sf)),
        "documents": max(50, round(50_000 * sf)),
        "embeddings": max(100, round(2000 * (sf / 0.1) ** 0.6)),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys])


def dates(rng, n):
    return pa.array(EPOCH_1995 + rng.integers(0, DATE_DAYS, n) * DAY, TS)


def tables(seed: int, sf: float) -> dict:
    n = sizes(sf)
    streams = {name: np.random.default_rng(s) for name, s in zip(
        ["customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings"],
        np.random.SeedSequence(seed).spawn(8))}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = streams["customer"]
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": k,
        "c_name": names("Customer", k),
        "c_nationkey": pa.array(r.integers(0, 25, k.size), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, k.size),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, k.size)])})

    r = streams["supplier"]
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": k,
        "s_name": names("Supplier", k),
        "s_nationkey": pa.array(r.integers(0, 25, k.size), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, k.size)})

    r = streams["part"]
    k = np.arange(n["part"], dtype=np.int64)
    adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), k.size)]
    noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), k.size)]
    out["part"] = pa.table({
        "p_partkey": k,
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k.size)]),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, k.size)]),
        "p_size": pa.array(r.integers(1, 51, k.size), pa.int32()),
        "p_retailprice": np.round(900 + (k % 1000) / 10.0, 2)})

    r = streams["orders"]
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": k,
        "o_custkey": r.integers(0, n["customer"], k.size, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            r.integers(0, 3, k.size)]),
        "o_totalprice": money(r, 1000.0, 500000.0, k.size),
        "o_orderdate": dates(r, k.size),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            r.integers(0, 5, k.size)])})

    r = streams["lineitem"]
    m = 4 * n["orders"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], m, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], m, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], m, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 105000.0, m),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            r.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, m)]),
        "l_shipdate": dates(r, m)})

    r = streams["events"]
    e = n["events"]
    ts = np.sort(EVENTS_START + r.integers(0, EVENTS_SPAN, e))
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, TS),
        "user_id": r.integers(0, n["users"], e, dtype=np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, e)]),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, e)])})

    r = streams["documents"]
    d = n["documents"]
    texts = [" ".join(np.array(WORDS)[r.integers(0, len(WORDS),
                                                  r.integers(10, 99))])
             for _ in range(d)]
    # ~5% of documents are an earlier document plus one or two " dup"
    # tokens, so near-duplicate detectors have true positives
    for i in np.flatnonzero(r.random(d) < 0.05):
        src = int(r.integers(0, d))
        if src != i:
            texts[i] = texts[src] + " dup" * int(r.integers(1, 3))
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[r.choice(5, d, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = streams["embeddings"]
    v = n["embeddings"]
    x = r.standard_normal((v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, v), pa.int32())})
    return out


def write(out_dir: str, seed: int, sf: float) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
        counts[name] = t.num_rows
    return counts


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    print(write(a.out_dir, a.seed, a.sf))
