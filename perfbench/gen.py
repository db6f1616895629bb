"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (star schema, `events`, `documents`,
`embeddings`) as one parquet file each, with the schemas of the engine's
`Tables` readers and the value domains of the committed test corpus: the same
seed always gives byte-identical inputs.

    python3 perfbench/gen.py <out_dir> <seed>

Row counts are those of the sf0.01 corpus (60,000 lineitem rows).
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["widget", "bolt", "ring", "gear", "rod", "plate", "anvil", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}


def _days(rng, n, start, end):
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "ms")
    return base + d.astype("timedelta64[D]").astype("timedelta64[ms]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, npart),
                                              rng.choice(NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(STATUS, no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(
            _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            pa.timestamp("ms")),
        "o_orderpriority": rng.choice(PRIORITY, no)})
    nl = n["lineitem"]
    flags = rng.integers(0, 6, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": pa.array(
            _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            pa.timestamp("ms"))})
    ne = n["events"]
    # Strictly increasing timestamps over 30 days, like the corpus.
    step = 30 * 86400e6 / ne
    ts = (np.arange(ne) * step + rng.uniform(0, step * 0.9, ne)).astype(
        np.int64)
    ts += 1704067200000000  # 2024-01-01T00:00:00Z in microseconds
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    seen = set()
    for i, t in enumerate(texts):  # texts are distinct, as in the corpus
        while t in seen:
            t += " dup"
        seen.add(t)
        texts[i] = t
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 0.125, (nv, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
