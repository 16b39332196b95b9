#!/usr/bin/env python3
"""Seeded generator for the benchmark's star-schema fixture.

Writes the ten parquet tables every query key reads (FIXTURES.md §1), with
the same schemas, row counts and value distributions as the sf0.1 fixture
the repository's tests use: uniform random keys and measures, a 30-word
vocabulary for `documents` with about 5% near-duplicates ("<other doc>
dup"), and `events.props` shaped `{"k": <int>}`.  The benchmark generates
its own copy so it reads nothing outside its checkout.

Usage: python3 gen_tables.py <out_dir> [--sf 0.1] [--seed 42]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_WORDS = ["large", "hot", "blue", "small", "red", "green", "cold", "steel"]
PART_NOUNS = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "screw"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]


def day_ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def cents(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(cents(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(cents(rng, n_supp, -999.99, 9999.99))})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in
             zip(rng.integers(0, len(PART_WORDS), n_part), rng.integers(0, len(PART_NOUNS), n_part))]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pick(rng, STATUSES, n_ord),
        "o_totalprice": pa.array(cents(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(day_ts(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(cents(rng, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(rng, ["R", "N", "A"], n_line),
        "l_linestatus": pick(rng, ["O", "F"], n_line),
        "l_shipdate": pa.array(day_ts(rng, n_line, "1995-01-02", 2499), pa.timestamp("us"))})
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 1_000_000, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev).astype(np.int64)),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(cents(rng, n_ev, 0.0, 560.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    words = np.array(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), n)]) for n in rng.integers(10, 90, n_doc)]
    # ~5% near-duplicates: another document's text plus one marker word
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    # a handful of exact duplicates
    for i in rng.integers(0, n_doc, 8):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    emb = rng.normal(0.0, 0.125, (n_emb, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    os.makedirs(a.out_dir, exist_ok=True)
    for name, t in tables(a.sf, a.seed).items():
        pq.write_table(t, os.path.join(a.out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
