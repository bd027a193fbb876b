"""Seeded tables for the operator queries of ``graph_ops``.

The operator queries of ``__spark_entry__`` read a small star schema
(region, nation, customer, supplier, part, orders, lineitem), an
``events`` stream and the ``documents`` and ``embeddings`` tables, one
parquet file per table under one directory.  This module writes such a
directory from a seed, with the column names, types and value domains
those queries and their DuckDB oracles expect, so the workload needs no
data outside the benchmark.

Beyond uniform random rows it plants what the dedup and similarity
operators look for: exact copies and one-word-edited copies of some
documents (Jaccard of 3-word shingles ≥ 0.9, far from the 0.8 MinHash
threshold), and perturbed copies of some embeddings (cosine ≈ 0.99).

Run as a script to write a directory and print its table sizes:

    python3 kgbench/tablegen.py --seed 1 --out /tmp/tables
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table; ``scale`` multiplies all but the fixed dimensions
SIZES = dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
             lineitem=60_000, events=10_000, users=150, documents=500,
             embeddings=500)
PLANTED_DOC_COPIES = 20    # exact duplicates, and as many edited copies
PLANTED_VEC_COPIES = 10
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
WORDS = ("a the join hash row batch scan column customer filter small slow "
         "merge vector order line table data agg value key stream window "
         "spark part group big sort query fast").split()
PART_WORDS = ["small", "red", "blue", "large", "steel", "ring", "widget",
              "bolt", "gear", "plate"]

_US_PER_DAY = 86_400 * 10 ** 6
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype("int64")
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype("int64")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in SIZES.items()}
    n["documents"] = max(n["documents"], 4 * PLANTED_DOC_COPIES)
    n["embeddings"] = max(n["embeddings"], 4 * PLANTED_VEC_COPIES)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    pw = np.array(PART_WORDS)
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": np.char.add(np.char.add(pw[rng.integers(0, 5, npart)], " "),
                              pw[rng.integers(5, 10, npart)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE",
                            "PROMO"])[rng.integers(0, 5, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(npart) % 1000 / 10, 2)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1_000, 400_000, no),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, no)
                           * _US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2_000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl)
                          * _US_PER_DAY)})
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, ne)),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.maximum(np.round(rng.exponential(50, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         rng.integers(8, 90))])
             for _ in range(n - 2 * PLANTED_DOC_COPIES)]
    src = rng.choice(len(texts), 2 * PLANTED_DOC_COPIES, replace=False)
    copies = [texts[i] for i in src[:PLANTED_DOC_COPIES]]
    # one-word edit at the end of a long document: one shingle of 40+ differs
    edited = []
    for i in src[PLANTED_DOC_COPIES:]:
        toks = texts[i].split()
        if len(toks) < 40:
            toks = toks + toks
        toks[-1] = "edited"
        edited.append(" ".join(toks))
    texts = texts + copies + edited
    return pa.table({
        "doc_id": np.arange(len(texts), dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), len(texts))],
        "source": [f"src{s}" for s in rng.integers(0, 20, len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})


def _embeddings(rng, n: int) -> pa.Table:
    base = rng.normal(0, 1 / np.sqrt(DIM), (n - PLANTED_VEC_COPIES, DIM))
    src = rng.choice(len(base), PLANTED_VEC_COPIES, replace=False)
    near = base[src] + rng.normal(0, 0.01, (PLANTED_VEC_COPIES, DIM))
    vecs = np.vstack([base, near]).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def write_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Write one ``<name>.parquet`` per table. → {name: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(write_tables(args.seed, args.out))
