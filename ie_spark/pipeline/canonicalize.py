"""Canonicalization: connected components over the mention–entity graph.

Mirrors the reference's disjoint-span closure (`get_disjoint_drs_spans`,
``semantics/ccg.py:1822-1861`` — DFS over shared referents) lifted to corpus
scale: vertices are mention stems and KB entity ids; edges are

  - mention → linked entity (from ie_spark.pipeline.linking)
  - _AKA alias pairs (appositives, ``ccg.py:1073-1183``)
  - _POSS is NOT an identity edge (ownership ≠ sameness)

Algorithm: alternating large-star / small-star connected components over
DataFrames (``connected_components``), no GraphFrames dependency.  Each
star step is one exchange on the node key; each round is one
``localCheckpoint`` that truncates lineage and, through an
``Observation``, reports whether the round's input was already final.
Rounds are O(log n) even on long chains, and a graph that does not
converge within ``max_iter`` rounds raises instead of returning partial
labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ie_spark.obs import observed


def build_identity_edges(linked_mentions: DataFrame,
                         triples: DataFrame) -> DataFrame:
    """→ edges (src, dst) over node keys.

    Node key: 'E:<entity_id>' for KB entities, 'M:<stem>' for mention stems.
    """
    link_edges = (linked_mentions
                  .filter(F.col("entity_id").isNotNull())
                  .select(F.concat(F.lit("M:"), F.col("stem")).alias("src"),
                          F.concat(F.lit("E:"), F.col("entity_id")).alias("dst")))
    # alias identity edges carry ONLY corpus-unambiguous aliases: an
    # alias stem naming more than one distinct referent ('player' for
    # both Robbie and Serena) is a common-noun description, and
    # keeping it percolates — measured on a 2000-conv corpus, stem-level
    # _AKA edges collapsed every propername into one 72-stem component.
    # The filter is self-scaling: at 10^12 turns nearly every common
    # noun becomes ambiguous and drops out, while genuinely unique
    # descriptions ('the Dutch publishing group' → Elsevier) survive.
    # Shuffle cost: one groupBy on the alias stem + an anti-join — the
    # same key the edges shuffle on anyway.
    aka = (triples.filter(F.col("pred") == "_AKA")
           .select("subj", "obj").distinct())
    ambiguous = (aka.groupBy("obj")
                 .agg(F.count_distinct("subj").alias("n_ref"))
                 .filter(F.col("n_ref") > 1)
                 .select("obj"))
    aka_edges = (aka.join(ambiguous, "obj", "left_anti")
                 .select(F.concat(F.lit("M:"), F.col("subj")).alias("src"),
                         F.concat(F.lit("M:"), F.col("obj")).alias("dst")))
    return link_edges.unionByName(aka_edges).distinct()


def _large_star(e: DataFrame, obs: Observation) -> DataFrame:
    """Per node u over both edge directions, m = min(N(u) ∪ {u}); link
    every neighbor v > u to m.  ``obs`` counts the nodes of ``e`` that
    break the star-forest shape: a node with a smaller neighbor and any
    second distinct neighbor."""
    w = Window.partitionBy("u")
    sym = e.unionByName(e.select(F.col("v").alias("u"),
                                 F.col("u").alias("v")))
    nb = (sym.repartition("u").distinct()
          .withColumn("lo", F.min("v").over(w))
          .withColumn("hi", F.max("v").over(w)))
    # one row per node (its smallest neighbor, unique after distinct)
    broken = (F.col("v") == F.col("lo")) & (F.col("lo") < F.col("u")) \
        & (F.col("hi") > F.col("lo"))
    return (nb.observe(obs, F.count_if(broken).alias("broken"))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"),
                    F.least("lo", "u").alias("v")))


def _small_star(e: DataFrame) -> DataFrame:
    """Per node u over its smaller neighbors, m = min(N(u)); link u and
    every such neighbor to m.  The row whose neighbor is m itself carries
    the (u, m) edge, so the step never emits more rows than it reads."""
    w = Window.partitionBy("u")
    nb = (e.repartition("u").distinct()
          .withColumn("m", F.min("v").over(w)))
    return nb.select(F.when(F.col("v") == F.col("m"), F.col("u"))
                     .otherwise(F.col("v")).alias("u"),
                     F.col("m").alias("v"))


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """edges (src, dst) → (node, component) with component = min node key
    in the component (deterministic canonical representative).  Self-loops
    carry no identity: a node with only a self-loop is not in the output.

    Alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm) over edges oriented (u, v) with u > v.  A round converges
    in O(log n) even on long chains, and each step is one exchange on the
    node key: a window over u gives the per-node minimum without a
    groupBy joined back, and duplicate pairs fold away in the same stage.

    Convergence needs no extra job: a round's input is final exactly when
    it is a star forest (no node has two distinct smaller neighbors, or a
    smaller and a larger one), and the large-star step counts the nodes
    that break that shape with an ``Observation`` read off the round's
    ``localCheckpoint``.  The labels are then the edges plus each star
    center labelling itself.  Raises ``RuntimeError`` if ``max_iter``
    rounds do not converge — never returns partial labels.
    """
    e = (edges.select(F.greatest("src", "dst").alias("u"),
                      F.least("src", "dst").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .localCheckpoint(eager=False))
    for _ in range(max_iter):
        obs = Observation()
        nxt = _small_star(_large_star(e, obs)).localCheckpoint()
        # no metrics: the round's input was empty, which is converged
        if not observed(obs).get("broken"):
            return (e.union(e.select("v", "v"))
                    .select(F.col("u").alias("node"),
                            F.col("v").alias("component"))
                    .distinct())
        e = nxt
    raise RuntimeError(
        f"connected components did not converge in {max_iter} rounds")


# public alias: kgbench imports the algorithm under this name
connected_components_star = connected_components


def canonical_nodes(labels: DataFrame, linked_mentions: DataFrame,
                    kb: DataFrame | None = None) -> DataFrame:
    """components + mention metadata → nodes(node_id, canonical, kind,
    entity_id, kb_url[, entity_name, category, pageid]).

    node_id = component representative (min node key; 'E:' sorts before
    'M:', so a component containing a KB entity is represented by its
    smallest entity id — exposed as entity_id/kb_url metadata, mirroring
    the reference's wikidata attachment, core/sentence.py:30-63);
    canonical = the (deterministically smallest) mention stem.  When a
    ``kb`` frame (entity_id, entity_name, category, pageid) is supplied,
    the full payload joins on (broadcast — the KB is dimension-sized).
    """
    stems = (linked_mentions
             .select(F.concat(F.lit("M:"), F.col("stem")).alias("node"),
                     F.col("stem"), F.col("kind"))
             .distinct())
    joined = labels.join(stems, "node", "left")
    ent = F.when(F.col("component").startswith("E:"),
                 F.expr("substring(component, 3)"))
    nodes = (joined.groupBy("component")
             .agg(F.min("stem").alias("canonical"),
                  F.max("kind").alias("kind"))
             .select(F.col("component").alias("node_id"), "canonical",
                     "kind", ent.alias("entity_id"),
                     F.when(ent.isNotNull(),
                            F.concat(F.lit("kb://entity/"), ent))
                     .alias("kb_url")))
    if kb is not None:
        nodes = nodes.join(F.broadcast(kb), "entity_id", "left").select(
            "node_id", "canonical", "kind", "entity_id", "kb_url",
            "entity_name", "category", "pageid")
    return nodes


def canonical_mention_map(labels: DataFrame) -> DataFrame:
    """→ (stem, node_id) map for rewriting triple endpoints."""
    return (labels
            .filter(F.col("node").startswith("M:"))
            .select(F.expr("substring(node, 3)").alias("stem"),
                    F.col("component").alias("node_id")))
