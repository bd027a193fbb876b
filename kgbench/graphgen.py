"""Seeded stress edge table for the graph part of ``graph_ops``.

Three parts, all drawn from one ``numpy`` generator seeded by the
benchmark's ``--seed``, so a seed always yields the same edge list:

- ``n_random`` directed edges between uniformly drawn endpoints over
  ``n_nodes`` ids (self-loops re-drawn; repeated pairs kept, because
  degree and PageRank count edge multiplicity);
- one planted hub (``hub``) linked to ``hub_degree`` random nodes in
  random direction: the skewed join key that stresses the per-iteration
  joins and the two-hop hub cap;
- ``n_chains`` simple paths of ``chain_len`` nodes, disjoint from the
  rest of the graph: long diameters that stress iterative connected
  components.

``SIZES`` are the benchmark's sizes.  Job ``i`` of a run with ``--seed
s`` draws its edges with seed ``s * 1000 + i``.  Run as a script to print
the edge count and a content hash of job 0's edge table:

    python3 kgbench/graphgen.py --seed 1
"""

from __future__ import annotations

import argparse
import hashlib

import numpy as np
import pandas as pd


SIZES = dict(n_nodes=4_000, n_random=8_000, hub_degree=2_400,
             n_chains=50, chain_len=30)


def job_seed(seed: int, i: int) -> int:
    return seed * 1000 + i


def stress_edges(seed: int, n_nodes: int, n_random: int, hub_degree: int,
                 n_chains: int, chain_len: int) -> pd.DataFrame:
    """→ pandas frame (src, dst) of string node ids."""
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n_nodes, n_random)
    dst = rng.integers(0, n_nodes, n_random)
    loops = src == dst
    while loops.any():
        dst[loops] = rng.integers(0, n_nodes, int(loops.sum()))
        loops = src == dst
    ids = np.char.add("n", np.char.zfill(np.arange(n_nodes).astype(str), 6))
    rand = pd.DataFrame({"src": ids[src], "dst": ids[dst]})

    spokes = ids[rng.choice(n_nodes, hub_degree, replace=False)]
    outward = rng.random(hub_degree) < 0.5
    hub = pd.DataFrame({"src": np.where(outward, "hub", spokes),
                        "dst": np.where(outward, spokes, "hub")})

    chains = [pd.DataFrame({"src": [f"c{c:04d}_{i:03d}"
                                    for i in range(chain_len - 1)],
                            "dst": [f"c{c:04d}_{i:03d}"
                                    for i in range(1, chain_len)]})
              for c in range(n_chains)]
    return pd.concat([rand, hub, *chains], ignore_index=True)


def edges_digest(edges: pd.DataFrame) -> str:
    return hashlib.sha256(
        edges.to_csv(index=False).encode("utf-8")).hexdigest()[:16]


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    e = stress_edges(job_seed(args.seed, 0), **SIZES)
    print(len(e), edges_digest(e))
