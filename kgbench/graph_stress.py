"""Graph analytics over a seeded stress edge table (first part of
``graph_ops``).

Job: ``run_graph_analytics`` with the passes in ``PASSES`` over the
edge table from ``graphgen.stress_edges`` (written to parquet before the
clock).  Checks: every pass's output rows against the in-process
references in ``reference``.

The traced variant runs the same passes through their public functions,
one span per pass, as ``run_graph_analytics`` composes them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import reference
from graphgen import SIZES, job_seed, stress_edges
from ie_spark.pipeline.analytics import (degree_profile, pagerank_mass,
                                         run_graph_analytics, triangle_counts,
                                         two_hop_paths)
from ie_spark.pipeline.canonicalize import connected_components_star

PASSES = ["degree", "two_hop", "triangles", "pagerank", "components"]
MAX_FANOUT = 1000   # run_graph_analytics' defaults
ITERATIONS = 5
REFERENCE_ARGS = {"two_hop": {"max_fanout": MAX_FANOUT},
                  "pagerank": {"iterations": ITERATIONS}}


@dataclass
class Input:
    seed: int
    edges: object  # pandas (src, dst)
    path: str      # edge parquet
    out: str       # analytics output directory


class GraphStress:
    name = "graph_stress"

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = {k: max(2, int(v * scale)) for k, v in SIZES.items()}
        # the hub and the chains keep their shape; only a graph smaller
        # than the hub caps its degree
        self.sizes["chain_len"] = SIZES["chain_len"]
        self.sizes["hub_degree"] = min(SIZES["hub_degree"],
                                       self.sizes["n_nodes"])

    def prepare(self, i: int) -> Input:
        seed = job_seed(self.seed, i)
        d = os.path.join(self.work, f"graph{i}")
        edges = stress_edges(seed, **self.sizes)
        path = os.path.join(d, "edges")
        self.spark.createDataFrame(edges).write.parquet(path)
        return Input(seed, edges, path, os.path.join(d, "analytics"))

    def run(self, inp: Input) -> dict:
        e = self.spark.read.parquet(inp.path)
        stats = run_graph_analytics(self.spark, e, inp.out, passes=PASSES,
                                    max_fanout=MAX_FANOUT,
                                    iterations=ITERATIONS)
        stats["n_edges"] = len(inp.edges)
        return stats

    def input_rows(self, stats: dict) -> int:
        return stats["n_edges"]

    # ---- checks (outside the timed region) ----------------------------

    def check(self, inp: Input, stats: dict) -> dict:
        total = reference.Match(0, 0, 0)
        problems, failed = [], 0
        for p in PASSES:
            build, cols = reference.GRAPH_PASSES[p]
            ref = build(inp.edges, **REFERENCE_ARGS.get(p, {}))
            out = self.spark.read.parquet(os.path.join(inp.out, p)) \
                .select(*cols).toPandas()
            m = reference.match_rows(out, ref, cols)
            total = total + m
            if not m.ok:
                failed += 1
                problems.append(f"{p}: {m.matched} of {m.emitted} emitted "
                                f"rows match {m.expected} reference rows")
        return {"attempted": len(PASSES), "failed": failed, "match": total,
                "problems": problems}

    def same_result(self, a: dict, b: dict) -> list[str]:
        return [f"{p} rows: {a['passes'][p]['rows']} != "
                f"{b['passes'][p]['rows']}"
                for p in PASSES
                if a["passes"][p]["rows"] != b["passes"][p]["rows"]]

    # ---- traced run ------------------------------------------------------

    def traced(self, tr, inp: Input) -> dict:
        s = self.spark
        runners = {
            "degree": lambda e: degree_profile(e, sort=False,
                                               checkpoint=False),
            "two_hop": lambda e: two_hop_paths(e, max_fanout=MAX_FANOUT,
                                               sort=False),
            "triangles": lambda e: triangle_counts(e, sort=False),
            "pagerank": lambda e: pagerank_mass(e, iterations=ITERATIONS,
                                                sort=False),
            "components": lambda e: connected_components_star(
                e.select("src", "dst")),
        }
        e = s.read.parquet(inp.path).select("src", "dst") \
            .localCheckpoint(eager=False)
        stats = {"passes": {}, "n_edges": len(inp.edges)}
        for p in PASSES:
            with tr.span("analytics", p):
                path = os.path.join(inp.out, p)
                runners[p](e).write.mode("overwrite").parquet(path)
                stats["passes"][p] = {"rows": s.read.parquet(path).count()}
        return stats

    def layer_metrics(self, tr, stats: dict, cores: int) -> dict:
        m = {}
        for p in PASSES:
            m[f"analytics.{p}_s"] = tr.layer_seconds("analytics", p)
            m[f"analytics.{p}_rows"] = stats["passes"][p]["rows"]
            m[f"analytics.{p}_jobs"] = tr.layer_counts("analytics", p)["jobs"]
        return m
