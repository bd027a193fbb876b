"""In-process references the benchmark checks the program's outputs
against.  They are written independently of ``ie_spark`` (plain pandas
and Python) and only run outside the timed region.

Every check returns a ``Match``: how many output rows the program
emitted, how many the reference expects, and how many agree.  Precision
is matched / emitted and recall matched / expected, so one dropped or
extra row pulls a value below 1.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

import pandas as pd

# the triple identity the goldens are compared on
TRIPLE_KEY = ["conv_id", "turn_idx", "subj", "pred", "obj", "polarity"]


@dataclass
class Match:
    emitted: int
    expected: int
    matched: int

    @property
    def ok(self) -> bool:
        return self.matched == self.emitted == self.expected

    def __add__(self, other: "Match") -> "Match":
        return Match(self.emitted + other.emitted,
                     self.expected + other.expected,
                     self.matched + other.matched)


def precision(m: Match) -> float:
    return m.matched / m.emitted if m.emitted else 0.0


def recall(m: Match) -> float:
    return m.matched / m.expected if m.expected else 0.0


def _rows(df: pd.DataFrame, cols: list[str]) -> set[tuple]:
    """Row set with numpy scalars turned into Python ones, so a Spark
    BIGINT and a pandas int64 compare equal."""
    return {tuple(v.item() if hasattr(v, "item") else v for v in row)
            for row in df[cols].itertuples(index=False, name=None)}


def match_rows(out: pd.DataFrame, ref: pd.DataFrame,
               cols: list[str]) -> Match:
    # emitted counts rows, not distinct rows: a duplicated output row
    # lowers precision like a wrong one
    return Match(len(out), len(ref), len(_rows(out, cols) & _rows(ref, cols)))


def match_triples(out: pd.DataFrame, golden: pd.DataFrame) -> Match:
    """Distinct triple keys of a KG against the template goldens."""
    o = _rows(out, TRIPLE_KEY)
    g = _rows(golden, TRIPLE_KEY)
    return Match(len(o), len(g), len(o & g))


# ---- graph passes over an edge list (src, dst) ---------------------------

def degrees(edges: pd.DataFrame) -> pd.DataFrame:
    out = edges.groupby("src").agg(out_degree=("dst", "size"),
                                   out_neighbors=("dst", "nunique"))
    inn = edges.groupby("dst").agg(in_degree=("src", "size"),
                                   in_neighbors=("src", "nunique"))
    d = out.join(inn, how="outer").fillna(0).astype("int64")
    d["total_degree"] = d["out_degree"] + d["in_degree"]
    return d.rename_axis("node").reset_index()


def components(edges: pd.DataFrame) -> pd.DataFrame:
    """Union-find; the label of a component is its smallest node id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges[["src", "dst"]].itertuples(index=False, name=None):
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # keep the smaller id as the root so it is the label
            parent[max(ru, rv)] = min(ru, rv)
    return pd.DataFrame({"node": list(parent),
                         "component": [find(n) for n in parent]})


def _undirected(edges: pd.DataFrame) -> dict[str, set]:
    adj: dict[str, set] = defaultdict(set)
    for u, v in edges[["src", "dst"]].itertuples(index=False, name=None):
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return adj


def triangles(edges: pd.DataFrame) -> pd.DataFrame:
    adj = _undirected(edges)
    count: dict[str, int] = defaultdict(int)
    for u, nu in adj.items():
        for v in nu:
            if v <= u:
                continue
            for w in nu & adj[v]:
                if w > v:  # each triangle once, as u < v < w
                    count[u] += 1
                    count[v] += 1
                    count[w] += 1
    return pd.DataFrame({"node": list(count),
                         "n_triangles": list(count.values())})


def pagerank(edges: pd.DataFrame, iterations: int = 5,
             scale: int = 10 ** 9) -> pd.DataFrame:
    """Multiplicity-weighted PageRank in integer mass units, damping
    85/100, dangling mass dropped, every division rounding down."""
    e = edges[edges["src"] != edges["dst"]]
    pairs = e.groupby(["src", "dst"]).size().rename("w").reset_index()
    nodes = pd.Index(pd.unique(pd.concat([pairs["src"], pairs["dst"]])))
    ow = pairs.groupby("src")["w"].sum()
    w = pairs["w"].to_numpy("int64")
    pw = ow.reindex(pairs["src"]).to_numpy("int64")
    mass = pd.Series(scale, index=nodes, dtype="int64")
    for _ in range(iterations):
        share = mass.reindex(pairs["src"]).to_numpy("int64") * w // pw
        c = pd.Series(share).groupby(pairs["dst"].to_numpy()).sum()
        c = c.reindex(nodes, fill_value=0).astype("int64")
        mass = scale * 15 // 100 + 85 * c // 100
    return pd.DataFrame({"node": nodes, "rank_mass": mass.to_numpy()})


def two_hop(edges: pd.DataFrame, max_fanout: int = 1000) -> pd.DataFrame:
    """Distinct intermediates per (src, dst) two-hop pair, skipping
    intermediates with more than ``max_fanout`` distinct in- or
    out-neighbours."""
    p = edges.loc[edges["src"] != edges["dst"], ["src", "dst"]]
    p = p.drop_duplicates()
    d = pd.concat([p.groupby("dst")["src"].nunique(),
                   p.groupby("src")["dst"].nunique()]).groupby(level=0).max()
    hub = set(d[d > max_fanout].index)
    a = p[~p["dst"].isin(hub)].rename(columns={"src": "a", "dst": "mid"})
    b = p.rename(columns={"src": "mid", "dst": "c"})
    j = a.merge(b, on="mid")
    j = j[j["a"] != j["c"]]
    out = j.groupby(["a", "c"])["mid"].nunique().rename("n_mid")
    return out.reset_index().rename(columns={"a": "src", "c": "dst"})


# pass name → (reference function, compared columns)
GRAPH_PASSES = {
    "degree": (degrees, ["node", "out_degree", "out_neighbors",
                         "in_degree", "in_neighbors", "total_degree"]),
    "two_hop": (two_hop, ["src", "dst", "n_mid"]),
    "triangles": (triangles, ["node", "n_triangles"]),
    "pagerank": (pagerank, ["node", "rank_mass"]),
    "components": (components, ["node", "component"]),
}
