"""``graph_ops``: graph analytics, then the headline operator queries.

One timed job runs ``graph_stress``'s job (``run_graph_analytics`` over
the seeded stress graph) and then ``ops``' job (the headline operator
queries over seeded tables): the analysis a user runs on top of the data,
with no extraction or linking.  Both parts keep their own inputs, checks
and traced spans; the job's wall time is the sum of the two.

The two parts share one workload because a run is mostly session set-up
and first-job cost: as separate workloads they would not fit the run
budget next to ``kg_build``.
"""

from __future__ import annotations

from dataclasses import dataclass

import reference
from graph_stress import GraphStress
from ops import Ops


@dataclass
class Input:
    graph: object
    ops: object

    # the traced run points the output directory elsewhere; only the
    # graph part writes one
    @property
    def out(self) -> str:
        return self.graph.out

    @out.setter
    def out(self, path: str) -> None:
        self.graph.out = path


class GraphOps:
    name = "graph_ops"

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.graph = GraphStress(spark, work, seed, scale)
        self.ops = Ops(spark, work, seed, scale)

    def prepare(self, i: int) -> Input:
        return Input(self.graph.prepare(i), self.ops.prepare(i))

    def run(self, inp: Input) -> dict:
        return {"graph": self.graph.run(inp.graph),
                "ops": self.ops.run(inp.ops)}

    def input_rows(self, stats: dict) -> int:
        return (self.graph.input_rows(stats["graph"])
                + self.ops.input_rows(stats["ops"]))

    def check(self, inp: Input, stats: dict) -> dict:
        g = self.graph.check(inp.graph, stats["graph"])
        o = self.ops.check(inp.ops, stats["ops"])
        return {"attempted": g["attempted"] + o["attempted"],
                "failed": g["failed"] + o["failed"],
                "match": reference.Match(0, 0, 0) + g["match"] + o["match"],
                "problems": g["problems"] + o["problems"]}

    def same_result(self, a: dict, b: dict) -> list[str]:
        return (self.graph.same_result(a["graph"], b["graph"])
                + self.ops.same_result(a["ops"], b["ops"]))

    def traced(self, tr, inp: Input) -> dict:
        return {"graph": self.graph.traced(tr, inp.graph),
                "ops": self.ops.traced(tr, inp.ops)}

    def layer_metrics(self, tr, stats: dict, cores: int) -> dict:
        return {**self.graph.layer_metrics(tr, stats["graph"], cores),
                **self.ops.layer_metrics(tr, stats["ops"], cores)}
