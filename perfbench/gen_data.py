"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the query keys read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings). With seed 42 it reproduces the repository's TPC-H-style
test fixtures (TESTDATA.md, FIXTURES.md section B) value for value and
with the same schemas at sf0.001 (except one lineitem row whose key
repeats), sf0.01 and sf0.1; other seeds draw new tables from the same
distributions. The same (seed, sf) always gives the same tables.

    python3 perfbench/gen_data.py <out_dir> --seed 7 --sf 0.01
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Category lists in the order the fixtures index them.
WORDS = ("the a spark query table join group filter window data order "
         "customer part line fast slow big small hash sort merge scan agg "
         "stream batch vector key value row column").split()
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# three in seven documents are English
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DAY_S = 86_400


def _days(base, days):
    """Midnight timestamps `days` after ISO date `base`, microseconds."""
    b = np.datetime64(base, "us")
    return pa.array(b + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """The tables as pyarrow Tables. Every random draw is made in a fixed
    order from one generator, so the tables are a function of
    (seed, sf)."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    line = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": rng.integers(0, 2499, n_line)}
    # (l_orderkey, l_linenumber, l_partkey, l_suppkey) is the unique key
    # the window queries order by; (l_orderkey, l_linenumber) is not. A
    # rare repeat of the whole key is dropped.
    key = np.stack([line[c] for c in ("l_orderkey", "l_linenumber",
                                      "l_partkey", "l_suppkey")], axis=1)
    _, first = np.unique(key, axis=0, return_index=True)
    keep = np.sort(first)
    line = {c: v[keep] for c, v in line.items()}
    line["l_shipdate"] = _days("1995-01-02", line["l_shipdate"])
    out["lineitem"] = pa.table(line)
    # events: ascending timestamps over 30 days, microsecond precision
    ns = np.sort((rng.uniform(0, 30 * DAY_S, n_ev) * 1e9).astype(np.int64))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + (ns // 1000).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: 10-99 words from a 30-word vocabulary. One document in
    # twenty is then overwritten, in turn, by the text of a random
    # document plus " dup"; these near-duplicates are what the
    # suffix-array and dedup operators find.
    texts = []
    for _ in range(n_doc):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[w] for w in rng.integers(0, 30, k)))
    dup = rng.choice(n_doc, n_doc // 20, replace=False)
    for i, j in zip(dup, rng.integers(0, n_doc, len(dup))):
        texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    a = ap.parse_args()
    write(a.out_dir, a.seed, a.sf)
