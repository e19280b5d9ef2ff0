"""Seeded generator of the catalog's input tables.

The tables follow the schema, row counts and value distributions of the
project's sf0.01 parquet fixture (a TPC-H-like star schema plus `events`,
`documents` and `embeddings`; perfbench/README.md lists the figures they were
matched to), small enough for the catalog passes to fit a benchmark run. The
same seed gives the same files, byte for byte.

    python3 perfbench/fixture.py <out_dir> <seed>
"""
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.01  # row counts of the project's sf0.01 fixture

VOCAB = ("a the data spark stream batch query scan filter join group agg sort hash key value "
         "row column table window merge order part line customer vector fast slow big small").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_SHARE = [0.15, 0.40, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05  # documents that copy another one and append the word "dup"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = "blue red green large small hot cold old new bright dark heavy light".split()
NOUN = "ring bolt anvil widget gear".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _day_us(start, days, n, rng):
    base = np.datetime64(start, "us").astype(np.int64)
    day = rng.integers(0, days, n).astype(np.int64)
    return pa.array(base + day * 86_400_000_000, type=pa.timestamp("us"))


def tables(seed, scale=SCALE):
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(base * scale))
    ncust, nsupp, npart = n(150_000), n(10_000), n(200_000)
    nord, nline, nev = n(1_500_000), n(6_000_000), n(1_000_000)
    ndoc, nemb = max(500, n(50_000)), max(500, n(20_000))
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(ncust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(ncust)],
        "c_nationkey": pa.array(rng.integers(0, 25, ncust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, ncust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, ncust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(nsupp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
        "s_nationkey": pa.array(rng.integers(0, 25, nsupp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, nsupp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), npart), rng.integers(0, len(NOUN), npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(nord, dtype=np.int64),
        "o_custkey": rng.integers(0, ncust, nord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, nord)],
        "o_totalprice": money(1000, 500000, nord),
        "o_orderdate": _day_us("1995-01-01", 2404, nord, rng),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, nord)]})
    qty = rng.integers(1, 51, nline).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, nord, nline).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nline).astype(np.int64),
        "l_suppkey": rng.integers(0, nsupp, nline).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nline), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nline), 2),
        "l_discount": rng.integers(0, 11, nline) / 100.0,
        "l_tax": rng.integers(0, 9, nline) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nline)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nline)],
        "l_shipdate": _day_us("1995-01-02", 2498, nline, rng)})
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, nev)) + ts0
    t["events"] = pa.table({
        "event_id": np.arange(nev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n(15_000)), nev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, nev)],
        "value": np.round(rng.exponential(50.0, nev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, nev)]})
    texts = [" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(ndoc)]
    for i in rng.choice(ndoc, int(ndoc * DUP_SHARE), replace=False):
        j = int(rng.integers(0, ndoc - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(ndoc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, ndoc, p=LANG_SHARE)],
        "source": [f"src{i}" for i in rng.integers(0, 20, ndoc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    # unit vectors with no cluster structure; labels drawn apart from them
    vecs = rng.normal(0, 1, (nemb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, nemb)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nemb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def ensure(root, seed):
    """The fixture directory for `seed`, generated on first use. The name
    holds a hash of this file, so an edited generator writes new files."""
    with open(__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, f"seed-{seed}-{tag}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure(sys.argv[1], int(sys.argv[2])))
