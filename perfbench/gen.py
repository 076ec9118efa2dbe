#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Usage: python3 perfbench/gen.py --seed N --out DIR

Writes the ten input tables as `DIR/<table>.parquet`, one file and one
row group per table, with the schemas and row counts of the sf0.1
fixture the queries were written against.  Every column is drawn from
the same distribution as the fixture's, and its planted structure is
kept:

- documents: a 30-word vocabulary (including the stopwords `a` and
  `the`), 10-100 words per text, and 5% near-duplicates, each a copy of
  an earlier document shifted by one word with the marker word `dup`
  appended;
- embeddings: unit-norm 64-d float vectors, ten labels of ~200 rows
  each;
- events: timestamps sorted by event_id over 30 days from 2024-01-01,
  naive microseconds, with ~66 events per user.

The same seed gives byte-identical files; different seeds give
different tables.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400 * 1_000_000


def ts_us(values):
    return pa.array(values.astype(np.int64), pa.timestamp("us"))


def day_us(start, days):
    """Midnight timestamps `days` days after `start` (a YYYY-MM-DD)."""
    base = np.datetime64(start, "us").astype(np.int64)
    return ts_us(base + days.astype(np.int64) * DAY_US)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(seed):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    nk = np.arange(25)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5, pa.int32())})

    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(rng, SEGMENTS, n)})

    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})

    n = ROWS["part"]
    pk = np.arange(n)
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n)]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})

    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": day_us("1995-01-01", rng.integers(0, 2405, n)),
        "o_orderpriority": pick(rng, PRIORITIES, n)})

    n = ROWS["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": day_us("1995-01-02", rng.integers(0, 2498, n))})

    n = ROWS["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, 30 * DAY_US, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": ts_us(start + offsets),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})

    out["documents"] = documents(rng, ROWS["documents"])

    n = ROWS["embeddings"]
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.reshape(-1), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return out


def documents(rng, n):
    vocab = np.asarray(VOCAB, dtype=object)
    words = [list(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n)]
    # 5% near-duplicates: doc i repeats an earlier original doc j shifted
    # by one word, with the marker word appended
    dups = np.sort(rng.choice(np.arange(1, n), n // 20, replace=False))
    is_dup = np.zeros(n, bool)
    is_dup[dups] = True
    for i in dups:
        originals = np.flatnonzero(~is_dup[:i])
        j = originals[rng.integers(0, len(originals))]
        words[i] = words[j][1:] + ["dup"]
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})


def write(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path + ".tmp", row_group_size=max(1, t.num_rows),
                       compression="snappy")
        os.replace(path + ".tmp", path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.seed, a.out)


if __name__ == "__main__":
    main()
