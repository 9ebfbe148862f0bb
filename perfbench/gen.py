#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes the ten tables `graft.Tables` reads (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) as parquet directories under one
output directory. The shapes follow the project's sf0.1 test tier: the
same column types, value ranges and near-duplicate structure, scaled by
`scale` (1.0 = sf0.1 row counts).

The seed fixes every value, every key remap and the row order of every
table, so the same (scale, seed) always gives byte-identical content
and a different seed gives the same row counts with a different layout.

Usage: python3 gen.py <outDir> <scale> <seed>
       python3 gen.py --selfcheck <scratchDir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at scale 1.0 (the sf0.1 tier)
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000,
    "embeddings": 2000,
}
USERS_PER_EVENT = 0.015          # 1500 users per 100k events
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = "large hot blue old cold big red small new dark".split()
P_NOUN = "ring bolt plate gear nut pipe".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86400 * 1_000_000
EPOCH_1995 = 788918400 * 1_000_000      # 1995-01-01 UTC, µs
EPOCH_2024 = 1704067200 * 1_000_000     # 2024-01-01 UTC, µs
FILES = 4                               # one scan task per core
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def rows_at(name, scale):
    return max(1, int(round(BASE_ROWS[name] * scale)))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def key_remap(rng, n):
    """Seeded bijection on 0..n-1: the key a row is stored under."""
    return rng.permutation(n).astype(np.int64)


def ts_us(values):
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def write(out_dir, name, cols, rng, counts):
    n = len(next(iter(cols.values())))
    counts[name] = n
    order = rng.permutation(n)                  # seeded row order
    table = pa.table({k: (v.take(pa.array(order)) if isinstance(v, pa.Array)
                          else pa.array(np.asarray(v)[order]))
                      for k, v in cols.items()})
    path = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    files = FILES if n >= 4000 else 1
    step = -(-n // files)
    for f in range(files):
        part = table.slice(f * step, step)
        pq.write_table(part, os.path.join(path, f"part-{f:03d}.parquet"),
                       compression="snappy")


def generate(out_dir, scale, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    n_cust, n_supp, n_part = (rows_at(t, scale)
                              for t in ("customer", "supplier", "part"))
    n_ord, n_li = rows_at("orders", scale), rows_at("lineitem", scale)

    write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}, rng, counts)
    write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}, rng, counts)

    ck = key_remap(rng, n_cust)
    write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}, rng, counts)
    sk = key_remap(rng, n_supp)
    write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}, rng, counts)
    pk = key_remap(rng, n_part)
    price = np.round(900.0 + (pk % 1000) * 0.1, 2)
    write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(P_ADJ), n_part),
            rng.integers(0, len(P_NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": price}, rng, counts)
    ok = key_remap(rng, n_ord)
    write(out_dir, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_us(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]},
        rng, counts)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_us(EPOCH_1995 + rng.integers(0, 2500, n_li) * DAY_US)},
        rng, counts)

    n_ev = rows_at("events", scale)
    n_users = max(10, int(round(n_ev * USERS_PER_EVENT)))
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    user_map = key_remap(rng, n_users)
    write(out_dir, "events", {
        "event_id": key_remap(rng, n_ev),
        "ts": ts_us(ev_ts),
        "user_id": user_map[rng.integers(0, n_users, n_ev)],
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}, rng, counts)

    # documents: random bags over a 30-word vocabulary; ~5% are an
    # earlier document with one trailing "dup" token (near-duplicates)
    n_doc = rows_at("documents", scale)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in words))
    write(out_dir, "documents", {
        "doc_id": key_remap(rng, n_doc),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}, rng, counts)

    n_emb = rows_at("embeddings", scale)
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write(out_dir, "embeddings", {
        "vec_id": key_remap(rng, n_emb),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))}, rng, counts)

    with open(os.path.join(out_dir, "_rows.json"), "w") as f:
        json.dump({"scale": scale, "seed": seed, "rows": counts}, f)
    return counts


def digest(out_dir):
    """Content digest over every table, file by file, in a fixed order."""
    h = hashlib.sha256()
    for t in TABLES:
        d = os.path.join(out_dir, f"{t}.parquet")
        for f in sorted(os.listdir(d)):
            for col in pq.read_table(os.path.join(d, f)).columns:
                h.update(str(col.to_pylist()).encode())
    return h.hexdigest()


def selfcheck(scratch):
    """Same seed → identical digests; other seed → same counts, new layout."""
    a, b, c = (os.path.join(scratch, x) for x in ("a", "b", "c"))
    ra, rb, rc = (generate(p, 0.02, s) for p, s in ((a, 7), (b, 7), (c, 8)))
    da, db, dc = digest(a), digest(b), digest(c)
    ok = da == db and ra == rb == rc and da != dc
    print(json.dumps({"gen_selfcheck": ok, "same_seed_equal": da == db,
                      "other_seed_differs": da != dc, "rows": ra}))
    return ok


if __name__ == "__main__":
    if sys.argv[1] == "--selfcheck":
        sys.exit(0 if selfcheck(sys.argv[2]) else 1)
    out, scale, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    print(json.dumps(generate(out, scale, seed)))
