#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes the ten tables graft's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, in ROW_GROUPS row groups so that a scan can split
into as many tasks as the benchmark has cores, with the column names,
physical types and value distributions of the TPC-H-ish test tables the
engine is developed against (see FIXTURES.md §2): independent uniform
keys and measures, day-precision dates, an exponential-gap event clock
over 30 days of 2024, a 30-word document vocabulary with 5% exact-copy
"dup" documents, and unit-norm 64-dimensional float embeddings.

The scale SF and the data SEED are fixed: the same files come out
every time, so the benchmark can pin reference hashes of every query's
output (run.py regenerates them when this file changes).

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "plate", "ring", "rod", "valve", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

US_PER_DAY = 86_400_000_000

SF = 0.02  # scale of the TPC-H-ish test tables; see README.md
SEED = 42
ROW_GROUPS = 8


def epoch_us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def ts_us(values) -> pa.Array:
    """Timezone-free TIMESTAMP(MICROS), as the reference tables store."""
    return pa.array(np.asarray(values, dtype=np.int64), pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[
        rng.choice(len(choices), n, p=p)].tolist(), pa.string())


def tables(sf: float, seed: int) -> dict:
    def rng(i):  # one independent stream per table
        return np.random.default_rng([seed, i])

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(r, SEGMENTS, n_cust)})

    r = rng(2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n_supp))})

    r = rng(3)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pick(r, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2))})

    r = rng(4)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": ts_us(epoch_us("1995-01-01")
                             + r.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": pick(r, PRIORITIES, n_ord)})

    r = rng(5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(r, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": pick(r, ["F", "O"], n_line),
        "l_shipdate": ts_us(epoch_us("1995-01-02")
                            + r.integers(0, 2499, n_line) * US_PER_DAY)})

    r = rng(6)
    span = 30 * US_PER_DAY
    gaps = r.exponential(span / (n_ev + 1), n_ev)
    clock = epoch_us("2024-01-01") + np.cumsum(gaps).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts_us(clock),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(r, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})

    r = rng(7)
    texts = [" ".join(np.asarray(VOCAB)[r.integers(0, len(VOCAB), n)])
             for n in r.integers(10, 101, n_docs)]
    for i in np.flatnonzero(r.random(n_docs) < 0.05):
        texts[i] = texts[int(r.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(r, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng(8)
    vec = r.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})
    return out


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(SF, SEED).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=-(-t.num_rows // ROW_GROUPS))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    write(ap.parse_args().out_dir)


if __name__ == "__main__":
    main()
