"""Graph-analytics consumers of the materialized node/edge tables.

The reference materializes its graph for downstream consumption (blob
sink + service reads, ``grpc/infox.py``; node/edge shape per SURVEY §2.C)
but ships no analytics pass of its own — these are the first queries any
graph consumer runs on the materialized tables, expressed Spark-first so
they hold at 10^12-turn scale:

- ``degree_profile``: per-node in/out edge and distinct-neighbor counts.
  Two hash aggregations on the edge endpoints (map-side partial counts,
  one shuffle each on node id) + a full-outer merge — no joins against
  the raw corpus, cost is O(|E|).
- ``two_hop_paths``: (a → mid → c) reachability counts via a self-join of
  the distinct-pair edge list on ``mid``.  The classic scale hazard is a
  hub intermediate (a node with d_in·d_out pairs fans out quadratically);
  intermediates whose distinct in- or out-neighbor count exceeds
  ``max_fanout`` are excluded via an anti-join — same hot-set pattern as
  the repeated-line cap in operators/dedup.py (line_dedup), and like it
  the hub set is NOT force-broadcast: its size is bounded only by
  2·|pairs|/max_fanout, which is tiny on real graphs (AQE picks a
  broadcast anti on its own) but unbounded in |E|, so a mandatory hint
  could OOM the driver at exactly the scale the cap exists for.
- ``triangle_counts``: per-node triangle participation via degree-ordered
  compact-forward enumeration — wedge fan-out bounded O(|E|^1.5), hub-safe.
- ``pagerank_mass``: fixed-iteration multiplicity-weighted PageRank in
  exact BIGINT mass units (cross-engine bit-reproducible — no float
  summation-order hazard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ie_spark.obs import observed


def degree_profile(edges: DataFrame, sort: bool = True,
                   checkpoint: bool = True) -> DataFrame:
    """edges(src, dst, ...) → one row per node with degree counts.

    Columns: node, out_degree, out_neighbors, in_degree, in_neighbors,
    total_degree.  With ``sort`` (default) the output carries a
    deterministic total order (degree desc, node asc) for cross-engine
    comparison; pass ``sort=False`` when a downstream consumer doesn't
    need it — the global sort is a full range-shuffle of the output.
    """
    # both endpoint aggregations consume the projection; a lazy local
    # checkpoint runs the upstream lineage once (line_dedup pattern —
    # the two exchanges have different children, so no ReusedExchange).
    # checkpoint=False when the caller already pinned the projection
    # (run_graph_analytics) — a second checkpoint would materialize an
    # identical copy of the endpoint list in block storage
    edges = edges.select("src", "dst")
    if checkpoint:
        edges = edges.localCheckpoint(eager=False)
    out_d = (edges.groupBy(F.col("src").alias("node"))
             .agg(F.count("*").alias("out_degree"),
                  F.countDistinct("dst").alias("out_neighbors")))
    in_d = (edges.groupBy(F.col("dst").alias("node"))
            .agg(F.count("*").alias("in_degree"),
                 F.countDistinct("src").alias("in_neighbors")))
    out = (out_d.join(in_d, "node", "full_outer")
           .select("node",
                   F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                   F.coalesce("out_neighbors", F.lit(0)).alias("out_neighbors"),
                   F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
                   F.coalesce("in_neighbors", F.lit(0)).alias("in_neighbors"))
           .withColumn("total_degree",
                       F.col("out_degree") + F.col("in_degree")))
    return out.orderBy(F.desc("total_degree"), F.asc("node")) if sort else out


def undirected_pairs(edges: DataFrame) -> DataFrame:
    """Distinct undirected pair list (u < v, self-loops dropped)."""
    return (edges.select(F.least("src", "dst").alias("u"),
                         F.greatest("src", "dst").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def triangle_counts(edges: DataFrame, sort: bool = True) -> DataFrame:
    """edges(src, dst, ...) → (node, n_triangles) over the undirected
    simple graph.

    Degree-ordered compact-forward enumeration (Latapy 2008, public
    algorithm; same orientation GraphFrames/Spark GraphX use): orient
    every undirected edge from the lower-(degree, id) endpoint to the
    higher, generate wedges only from each node's ORIENTED out-neighbor
    list, and close them against the undirected pair list.  The
    orientation bounds every out-list by O(√|E|), so wedge fan-out is
    O(|E|^1.5) worst-case instead of Σ deg² — a mega-hub contributes
    nothing quadratic because its edges all point INTO it.  Each triangle
    is generated exactly once, from its lowest-(degree, id) corner.

    Shuffles: one distinct on the pair list, one degree aggregation, the
    wedge self-join on the low corner, the closing join on the canonical
    pair key, and the final per-node count — all keyed, nothing
    broadcast-mandatory.
    """
    # wedge join + closing join + degree agg all consume the pair list —
    # lazy local checkpoint = one upstream pass (line_dedup pattern)
    und = undirected_pairs(edges).localCheckpoint(eager=False)
    deg = (und.select(F.col("u").alias("node"))
           .unionByName(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    w = (und
         .join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")),
               "u")
         .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")),
               "v"))
    # (deg, id) total order; und already has u < v, so the id tie-break
    # collapses into <= — mirrored verbatim in the SQL oracle tail
    lo_is_u = F.col("du") <= F.col("dv")
    o = w.select(
        F.when(lo_is_u, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lo_is_u, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lo_is_u, F.col("dv")).otherwise(F.col("du")).alias("db"))
    x, y = o.alias("x"), o.alias("y")
    wedges = (x.join(y, "a")
              .filter((F.col("x.db") < F.col("y.db")) |
                      ((F.col("x.db") == F.col("y.db")) &
                       (F.col("x.b") < F.col("y.b"))))
              .select(F.col("a"), F.col("x.b").alias("b"),
                      F.col("y.b").alias("c")))
    tri = wedges.join(
        und.select(F.col("u").alias("cu"), F.col("v").alias("cv")),
        (F.least("b", "c") == F.col("cu")) &
        (F.greatest("b", "c") == F.col("cv"))).select("a", "b", "c")
    per_node = (tri.select(F.col("a").alias("node"))
                .unionByName(tri.select(F.col("b").alias("node")))
                .unionByName(tri.select(F.col("c").alias("node")))
                .groupBy("node").agg(F.count("*").alias("n_triangles")))
    return (per_node.orderBy(F.desc("n_triangles"), F.asc("node"))
            if sort else per_node)


def pagerank_mass(edges: DataFrame, iterations: int = 5,
                  scale: int = 10 ** 9, sort: bool = True) -> DataFrame:
    """edges(src, dst, ...) → (node, rank_mass): fixed-iteration PageRank
    in EXACT integer arithmetic, weighted by edge multiplicity (damping
    0.85, dangling mass dropped — the standard simplification).

    Multiplicity-weighted: a (src, dst) pair observed w times carries w
    shares of src's mass — on a KG where repeated triples are repeated
    evidence, that's the meaningful rank, and it keeps the query
    scale-sensitive even where the DISTINCT pair structure saturates.

    Every quantity is a BIGINT number of "mass units" (``scale`` units =
    initial rank 1.0): the share along an edge is ``(mass·w) div W`` with
    W = src's total out-weight, damping is ``(85·Σshares) div 100`` —
    integer division on both engines, so the DuckDB oracle reproduces the
    result bit-for-bit with no float summation-order hazard.  Headroom:
    per-edge ``mass·w`` and the damped sum must fit int64 — with the
    default scale 10^9 that holds to ~10^5 nodes × 10^4-multiplicity
    edges; at larger graphs lower ``scale`` (rank resolution degrades
    gracefully; relative order is unchanged until quotients collide).

    Per iteration: one join of the mass vector with the out-weight table
    (key: node), one join onto the weighted pair list (key: src), one
    partial-agg sum keyed by dst, one left join back onto the node list —
    all hash-partitioned on the same node-id key; lineage is truncated
    per iteration with a lazy local checkpoint so plan compile stays O(1)
    in the iteration count.
    """
    pairs = (edges.select("src", "dst")
             .filter(F.col("src") != F.col("dst"))
             .groupBy("src", "dst").agg(F.count("*").alias("w"))
             .localCheckpoint(eager=False))
    nodes = (pairs.select(F.col("src").alias("node"))
             .unionByName(pairs.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=False))
    # reused by every iteration's mass plan — checkpoint once or the
    # out-weight shuffle over the full pair list re-executes per iteration
    outw = (pairs.groupBy(F.col("src").alias("node"))
            .agg(F.sum("w").alias("ow"))
            .localCheckpoint(eager=False))
    base = scale * 15 // 100
    mass = nodes.withColumn("mass", F.lit(scale).cast("long"))
    for _ in range(iterations):
        shares = (mass.join(outw, "node")
                  .select(F.col("node").alias("src"), "mass", "ow"))
        contrib = (pairs.join(shares, "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("(mass * w) div ow").alias("share"))
                   .groupBy("node")
                   .agg(F.sum("share").alias("c")))
        mass = (nodes.join(contrib, "node", "left")
                .select("node",
                        (F.lit(base).cast("long") +
                         F.expr("(85 * coalesce(c, cast(0 as bigint))) "
                                "div 100")).alias("mass"))
                .localCheckpoint(eager=False))
    out = mass.select("node", F.col("mass").alias("rank_mass"))
    return out.orderBy(F.desc("rank_mass"), F.asc("node")) if sort else out


def link_prediction(edges: DataFrame, max_fanout: int = 1000,
                    min_common: int = 2, sort: bool = True,
                    checkpoint: bool = True) -> DataFrame:
    """edges(src, dst, ...) → (u, v, common_neighbors, jaccard_milli):
    common-neighbor link prediction over the undirected simple graph —
    the classic "entities that share context but are not yet connected"
    query a KG consumer runs for edge suggestion / retrieval expansion.

    For every NON-adjacent pair (u < v) with at least ``min_common``
    shared neighbors: the shared-neighbor count plus an integer-scaled
    Jaccard score ``|N(u)∩N(v)|·1000 div |N(u)∪N(v)|`` — all-BIGINT
    arithmetic, so the DuckDB oracle reproduces it bit-for-bit (the
    float Adamic-Adar variant would hash-diverge on summation order).

    Scale shape: candidate pairs come from wedges centered at each
    shared neighbor, so fan-out is Σ deg(m)² over CENTERS — the same
    hub hazard as two_hop_paths, bounded the same way: centers with
    degree > ``max_fanout`` are excluded via an anti-join against the
    tiny hub set (documented approximation: a mega-hub connecting
    everything predicts nothing useful anyway — shared rare context
    is the signal, shared hubs are noise).  Shuffles: the pair
    distinct, one degree agg, the wedge self-join keyed on the center,
    the per-pair count, and the adjacency anti-join — all equi-keyed.

    ``deg`` is consumed four times (hub set + both score joins) and the
    hub-filtered center list twice (both self-join sides); Catalyst
    duplicates self-joined subtrees rather than sharing them, so both
    get a lazy local checkpoint — without it the plan re-aggregates
    degrees over the full edge list four times (caught by plan
    inspection).  ``checkpoint=False`` exposes the untruncated plan for
    the plan-shape tests.
    """
    und = undirected_pairs(edges).localCheckpoint(eager=False)
    deg = (und.select(F.col("u").alias("node"))
           .unionByName(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    if checkpoint:
        deg = deg.localCheckpoint(eager=False)
    hub = deg.filter(F.col("deg") > max_fanout).select("node")
    sym = (und.select(F.col("u").alias("m"), F.col("v").alias("x"))
           .unionByName(
               und.select(F.col("v").alias("m"), F.col("u").alias("x"))))
    ctr = sym.join(hub, sym.m == hub.node, "left_anti")
    if checkpoint:
        ctr = ctr.localCheckpoint(eager=False)
    a, b = ctr.alias("a"), ctr.alias("b")
    cand = (a.join(b, "m")
            .filter(F.col("a.x") < F.col("b.x"))
            .groupBy(F.col("a.x").alias("u"), F.col("b.x").alias("v"))
            .agg(F.count("*").alias("common_neighbors"))
            .filter(F.col("common_neighbors") >= min_common)
            .join(und, ["u", "v"], "left_anti"))
    out = (cand
           .join(deg.select(F.col("node").alias("u"),
                            F.col("deg").alias("du")), "u")
           .join(deg.select(F.col("node").alias("v"),
                            F.col("deg").alias("dv")), "v")
           .select("u", "v", "common_neighbors",
                   F.expr("(common_neighbors * 1000) div "
                          "(du + dv - common_neighbors)")
                   .alias("jaccard_milli")))
    return (out.orderBy(F.desc("common_neighbors"), F.desc("jaccard_milli"),
                        F.asc("u"), F.asc("v"))
            if sort else out)


def bfs_distances(edges: DataFrame, max_depth: int = 4,
                  sort: bool = True) -> DataFrame:
    """edges(src, dst, ...) → (node, dist): breadth-first hop distance
    over the undirected graph from a deterministic seed (the minimum
    node id), capped at ``max_depth`` hops — the bounded-neighborhood
    query behind "show me everything within k hops of this entity".

    One frontier expansion per hop: join the previous frontier with the
    symmetric adjacency list (keyed on node id), take the min distance
    per node, truncate lineage with a lazy local checkpoint so the plan
    stays O(1) in depth.  State after round d is at most the d-hop ball,
    never the full path set — the recursive-CTE oracle enumerates paths
    and is exactly why the Spark side iterates frontiers instead.
    Unreached nodes are absent from the output (not NULL-distance).
    """
    und = undirected_pairs(edges).localCheckpoint(eager=False)
    sym = (und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
           .unionByName(
               und.select(F.col("v").alias("src"), F.col("u").alias("dst"))))
    # filter the NULL an ungrouped min yields on an EMPTY pair list
    # (edge-free or all-self-loop input): without it the output would
    # carry a phantom (NULL, 0) row instead of being empty
    dist = (und.select(F.least("u", "v").alias("node"))
            .agg(F.min("node").alias("node"))
            .filter(F.col("node").isNotNull())
            .withColumn("dist", F.lit(0).cast("int"))
            .localCheckpoint(eager=False))
    for d in range(1, max_depth + 1):
        frontier = dist.filter(F.col("dist") == d - 1).select("node")
        nxt = (frontier.join(sym, frontier.node == sym.src)
               .select(F.col("dst").alias("node"),
                       F.lit(d).cast("int").alias("dist")))
        dist = (dist.unionByName(nxt)
                .groupBy("node").agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=False))
    return dist.orderBy("dist", "node") if sort else dist


def two_hop_paths(edges: DataFrame, max_fanout: int = 1000,
                  sort: bool = True) -> DataFrame:
    """edges(src, dst, ...) → (src, dst, n_mid) two-hop reachability.

    ``n_mid`` counts DISTINCT intermediate nodes connecting src to dst
    over the distinct-pair edge list (self-loops dropped; round trips
    src→mid→src excluded).  Intermediates with more than ``max_fanout``
    distinct in- or out-neighbors are excluded — a hub cap that bounds
    the join fan-out at d_in·d_out ≤ max_fanout² per intermediate instead
    of letting one mega-node produce a quadratic pair explosion.  The
    anti-join against the hub set is unhinted (see module docstring);
    ``sort=False`` skips the global output sort.
    """
    # four branches consume the pair list (both hub-degree aggregations
    # and both join sides) — lazy local checkpoint = one distinct pass
    pairs = (edges.select("src", "dst")
             .filter(F.col("src") != F.col("dst"))
             .distinct().localCheckpoint(eager=False))
    hub = (pairs.groupBy(F.col("dst").alias("node"))
           .agg(F.countDistinct("src").alias("d"))
           .unionByName(pairs.groupBy(F.col("src").alias("node"))
                        .agg(F.countDistinct("dst").alias("d")))
           .groupBy("node").agg(F.max("d").alias("d"))
           .filter(F.col("d") > max_fanout)
           .select("node"))
    a = (pairs.join(hub, pairs.dst == hub.node, "left_anti")
         .select(F.col("src").alias("a_src"), F.col("dst").alias("mid")))
    b = pairs.select(F.col("src").alias("mid"), F.col("dst").alias("b_dst"))
    out = (a.join(b, "mid")
           .filter(F.col("a_src") != F.col("b_dst"))
           .groupBy(F.col("a_src").alias("src"), F.col("b_dst").alias("dst"))
           .agg(F.countDistinct("mid").alias("n_mid")))
    return (out.orderBy(F.desc("n_mid"), F.asc("src"), F.asc("dst"))
            if sort else out)


def run_graph_analytics(spark, edges: DataFrame, out_dir: str,
                        passes: "list[str] | None" = None,
                        max_fanout: int = 1000,
                        iterations: int = 5) -> dict:
    """Run the selected analytics passes over a materialized edge table
    and write one parquet dir per pass under ``out_dir`` — the batch job
    a KG consumer schedules after each pipeline run.  Outputs are
    unsorted (a global output sort buys nothing for a table handed to
    downstream jobs); per-pass row counts and wall seconds come back as
    a stats dict for the caller's JSON line; a pass's row count is
    observed on its write.
    """
    import os as _os
    import time as _time

    from ie_spark.pipeline.canonicalize import connected_components

    runners = {
        "degree": lambda e: degree_profile(e, sort=False, checkpoint=False),
        "two_hop": lambda e: two_hop_paths(e, max_fanout=max_fanout,
                                           sort=False),
        "triangles": lambda e: triangle_counts(e, sort=False),
        "pagerank": lambda e: pagerank_mass(e, iterations=iterations,
                                            sort=False),
        "components": lambda e: connected_components(e.select("src", "dst")),
        "link_pred": lambda e: link_prediction(e, max_fanout=max_fanout,
                                               sort=False),
        "bfs": lambda e: bfs_distances(e, sort=False),
    }
    passes = list(runners) if passes is None else list(passes)
    unknown = [p for p in passes if p not in runners]
    if unknown:
        raise ValueError(f"unknown passes {unknown}; "
                         f"known: {sorted(runners)}")
    # every pass re-reads the endpoints — scan the table once
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    stats: dict = {"passes": {}}
    for name in passes:
        t0 = _time.time()
        rows = Observation()
        out = runners[name](e).observe(rows, F.count(F.lit(1)).alias("n"))
        out.write.mode("overwrite").parquet(_os.path.join(out_dir, name))
        stats["passes"][name] = {
            "rows": observed(rows).get("n", 0),
            "sec": round(_time.time() - t0, 3),
        }
    return stats
