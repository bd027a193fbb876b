"""Entity linking (blocked broadcast similarity join) + connected-components
canonicalization + idempotent graph materialization."""

import os

import pytest
from pyspark.sql import functions as F

from ie_spark.data.synthetic import corpus_to_pandas
from ie_spark.pipeline.canonicalize import (
    build_identity_edges,
    canonical_mention_map,
    canonical_nodes,
    connected_components,
)
from ie_spark.pipeline.extract import (
    extract_mentions,
    extract_triples,
    find_hot_convs,
    repartition_by_conv,
    transcripts_from_pandas,
)
from ie_spark.pipeline.graph import merge_upsert, run_extraction_job
from ie_spark.pipeline.linking import build_candidate_dict, link_mentions


@pytest.fixture(scope="module")
def small(spark):
    tr, gt, gm = corpus_to_pandas(n_convs=30, seed=11, mega_frac=0.05)
    df = transcripts_from_pandas(spark, tr)
    return df, extract_mentions(df), extract_triples(df)


def test_linking_exact_alias_wins(spark, small):
    _, mentions, _ = small
    cand = build_candidate_dict(spark)
    linked = link_mentions(mentions, cand)
    pdf = linked.toPandas()
    # every propername/entity mention in the synthetic vocab must link
    assert pdf["entity_id"].notna().mean() > 0.99
    # exact aliases score 1.0
    assert (pdf.loc[pdf.entity_id.notna(), "score"] == 1.0).mean() > 0.95
    # 'Alice' must link to the Alice entity, not the 'Alicia' distractor
    alice = pdf[pdf.stem == "Alice"]
    if len(alice):
        names = cand.filter(F.col("entity_id").isin(
            list(alice.entity_id.unique()))).select("name").toPandas()
        assert set(names["name"]) == {"Alice"}


def test_linking_one_row_per_mention(spark, small):
    _, mentions, _ = small
    cand = build_candidate_dict(spark)
    linked = link_mentions(mentions, cand)
    n_mentions = (mentions.filter(F.col("kind").isin("entity", "propername"))
                  .count())
    assert linked.count() == n_mentions
    assert linked.groupBy("mention_id").count().filter("count > 1").count() == 0


def test_connected_components_small_graph(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p2"), ("p2", "p3"),
         ("p3", "a")],
        "src string, dst string")
    labels = connected_components(edges).toPandas()
    comp = dict(zip(labels.node, labels.component))
    assert comp["a"] == comp["b"] == comp["c"] == comp["p"] == comp["p3"]
    assert comp["x"] == comp["y"]
    assert comp["x"] != comp["a"]
    # canonical representative is the min node key (deterministic)
    assert comp["x"] == "x"
    assert comp["a"] == "a"


def test_ambiguous_aliases_never_percolate(spark):
    # scale guard: an alias stem naming two referents ('player' for both
    # Robbie and Serena) must NOT merge them — stem-level _AKA edges
    # percolated a 2000-conv corpus into one 72-stem component before
    # the unambiguous-alias filter
    linked = spark.createDataFrame([], "stem string, entity_id string")
    triples = spark.createDataFrame(
        [("c1", 0, 0, "Robbie", "_AKA", "player"),
         ("c2", 0, 0, "Serena", "_AKA", "player"),
         ("c3", 0, 0, "Elsevier", "_AKA", "group")],
        "conv_id string, turn_idx int, sent_idx int, subj string, "
        "pred string, obj string")
    edges = build_identity_edges(linked, triples)
    rows = {(r.src, r.dst) for r in edges.collect()}
    # the ambiguous 'player' alias creates NO identity edge
    assert not any("player" in s or "player" in d for s, d in rows)
    # the unambiguous 'group' alias survives
    assert ("M:Elsevier", "M:group") in rows


def test_canonicalization_end_to_end(spark, small):
    _, mentions, triples = small
    cand = build_candidate_dict(spark)
    linked = link_mentions(mentions, cand)
    edges = build_identity_edges(linked, triples)
    labels = connected_components(edges)
    nodes = canonical_nodes(labels, linked)
    assert nodes.count() == labels.select("component").distinct().count()
    mmap = canonical_mention_map(labels)
    # every mention stem that links resolves to exactly one node_id
    assert mmap.groupBy("stem").count().filter("count > 1").count() == 0


def test_merge_upsert_idempotent(spark, tmp_path):
    path = str(tmp_path / "facts")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    merge_upsert(spark, df, path, keys=["k"])
    merge_upsert(spark, df, path, keys=["k"])  # second run: no new rows
    out = spark.read.parquet(path)
    assert out.count() == 2
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string")
    merge_upsert(spark, df2, path, keys=["k"])
    assert spark.read.parquet(path).count() == 3


def test_resumable_bucketed_job(spark, tmp_path):
    tr, gt, _ = corpus_to_pandas(n_convs=20, seed=3)
    df = transcripts_from_pandas(spark, tr)
    out = str(tmp_path / "job")
    s1 = run_extraction_job(spark, df, out, n_buckets=4)
    assert sorted(s1["processed"]) == [0, 1, 2, 3]
    n1 = spark.read.parquet(os.path.join(out, "triples")).count()
    # resume: everything checkpointed → nothing reprocessed, output unchanged
    s2 = run_extraction_job(spark, df, out, n_buckets=4)
    assert s2["processed"] == []
    assert sorted(s2["buckets_done"]) == [0, 1, 2, 3]
    n2 = spark.read.parquet(os.path.join(out, "triples")).count()
    assert n1 == n2
    # checkpoint rows carry metrics + lineage
    cp = spark.read.parquet(os.path.join(out, "_checkpoints")).toPandas()
    assert set(cp.status) == {"ok"}
    assert (cp.n_turns > 0).any() and cp.lineage.str.startswith("extract:v1").all()


def test_skew_salting_repartition(spark):
    tr, _, _ = corpus_to_pandas(n_convs=40, seed=5, mega_frac=0.1, mega_mult=40)
    df = transcripts_from_pandas(spark, tr)
    hot = find_hot_convs(df, threshold=100)
    assert hot, "skew knob should produce at least one mega-conversation"
    salted = repartition_by_conv(df, 8, salt_buckets=8, hot_convs=hot)
    # row preservation under salting
    assert salted.count() == df.count()
    # hot conversation rows spread across >1 partition
    pid = salted.filter(F.col("conv_id") == hot[0]).select(
        F.spark_partition_id().alias("p")).distinct().count()
    assert pid > 1


def _label_propagation(pairs):
    """Driver-side min-label propagation: every node takes the smallest
    label among itself and its neighbours until nothing changes."""
    label = {n: n for p in pairs for n in p}
    changed = True
    while changed:
        changed = False
        for a, b in pairs:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
    return set(label.items())


def test_star_cc_equivalent_to_label_propagation(spark):
    """Property check: the large/small-star CC produces the same
    components as min-label propagation on random graphs, a hub, and
    chains longer than 20 (the worst case for propagation), one with
    ordered ids and one with shuffled ids."""
    import random as _random
    from ie_spark.pipeline.canonicalize import connected_components_star

    graphs = []
    for seed in (0, 1, 2, 3):
        r = _random.Random(seed)
        n = r.randint(5, 28)
        nodes = [f"n{i:02d}" for i in range(n)]
        m = r.randint(3, 40)
        pairs = {(r.choice(nodes), r.choice(nodes)) for _ in range(m)}
        graphs.append([(a, b) for a, b in pairs if a != b]
                      or [("n00", "n01")])
    graphs.append([("hub", f"s{i:02d}") if i % 2 else (f"s{i:02d}", "hub")
                   for i in range(30)])
    ids = [f"c{i:02d}" for i in range(32)]
    graphs.append(list(zip(ids, ids[1:])))
    _random.Random(5).shuffle(ids)
    graphs.append(list(zip(ids, ids[1:])))

    for i, pairs in enumerate(graphs):
        edges = spark.createDataFrame(pairs, "src string, dst string")
        got = {(x.node, x.component)
               for x in connected_components_star(edges).collect()}
        want = _label_propagation(pairs)
        assert got == want, \
            f"graph {i}: {sorted(got - want)[:5]} vs {sorted(want - got)[:5]}"

    # explicit long chain (diameter = n-1): one component, the min id
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(24)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    comp = {x.node: x.component
            for x in connected_components(edges).collect()}
    assert set(comp.values()) == {"c00"} and len(comp) == 25


def test_connected_components_empty_graph(spark):
    for rows in ([], [("a", "a")]):
        edges = spark.createDataFrame(rows, "src string, dst string")
        assert connected_components(edges).count() == 0


def test_connected_components_raises_at_max_iter(spark):
    """A graph that needs more rounds than allowed fails loudly instead of
    returning partial labels."""
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(40)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(edges, max_iter=2)


def test_connected_components_job_count_and_plan(spark):
    """Regression gate on the cost of a round.  On this hub + chains graph
    the call plus a count of its result took 92 Spark jobs when every star
    step was a groupBy joined back plus a distinct and every round ran two
    exceptAll convergence jobs; one exchange per step and a convergence
    count observed on the round's checkpoint must keep it at half that.
    The result carries no CollectMetrics node, so a declared query built
    on it (kg_components) stays free of diagnostics."""
    sc = spark.sparkContext
    rows = [("hub", f"s{i:03d}") if i % 2 else (f"s{i:03d}", "hub")
            for i in range(200)]
    rows += [(f"c{c}_{i:02d}", f"c{c}_{i + 1:02d}")
             for c in range(8) for i in range(29)]
    edges = spark.createDataFrame(rows, "src string, dst string")
    edges.count()
    group = "test-cc-job-count"
    sc.setJobGroup(group, "connected components")
    try:
        out = connected_components(edges)
        assert out.count() == 201 + 8 * 30
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 92 // 2, n_jobs
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" not in plan


def test_extraction_job_is_single_pass(spark, tmp_path):
    """The bucketed job must NOT loop buckets on the driver: total Spark
    jobs stay O(1) regardless of n_buckets (was O(n_buckets) full scans)."""
    from ie_spark.pipeline.graph import run_extraction_job
    tr, _, _ = corpus_to_pandas(n_convs=30, seed=7)
    df = transcripts_from_pandas(spark, tr)
    sc = spark.sparkContext
    sc.setJobGroup("single_pass_probe", "count jobs")
    try:
        run_extraction_job(spark, df, str(tmp_path / "job64"), n_buckets=64)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("single_pass_probe")
    assert 0 < len(jobs) <= 10, f"{len(jobs)} jobs for 64 buckets"
    # triples are laid out as real _bucket partitions (pruned read-back)
    import os as _os
    parts = [d for d in _os.listdir(str(tmp_path / "job64" / "triples"))
             if d.startswith("_bucket=")]
    assert parts


def test_extraction_job_partial_resume(spark, tmp_path):
    """Buckets already checkpointed are skipped; only the remainder is
    processed and written (per-partition resume)."""
    from ie_spark.pipeline.graph import run_extraction_job, write_checkpoints
    tr, _, _ = corpus_to_pandas(n_convs=20, seed=3)
    df = transcripts_from_pandas(spark, tr)
    out = str(tmp_path / "jobpart")
    write_checkpoints(spark, os.path.join(out, "_checkpoints"),
                      [("pre", b, "ok", 1, 1, 0, "extract:v1:pre")
                       for b in (0, 1)])
    s = run_extraction_job(spark, df, out, n_buckets=4)
    assert s["processed"] == [2, 3]
    assert sorted(s["buckets_done"]) == [0, 1]
    got = (spark.read.parquet(os.path.join(out, "triples"))
           .select("_bucket").distinct())
    assert sorted(r[0] for r in got.collect()) == [2, 3]


def test_pronoun_coref_nearest_antecedent(spark):
    """Nearest-propername pronoun resolution (reference DRT accessible
    referents): earlier sentence wins, lookback bounded, no-antecedent
    pronouns keep a NULL row."""
    import pandas as pd
    from ie_spark.pipeline.coref import resolve_pronouns
    from ie_spark.pipeline.extract import transcripts_from_pandas, extract_mentions
    rows = [
        ("c1", 0, "user", "Alice reviewed the patch.", "", None),
        ("c1", 1, "assistant", "She approved the request.", "", None),
        ("c1", 2, "user", "Bob merged the patch. He deployed the service.", "", None),
        # kind-aware (verdict #10): 'it' binds the nearest ENTITY mention
        # (service), never the nearest propername (Bob)
        ("c1", 3, "user", "It failed.", "", None),
        ("c1", 4, "user", "This stopped.", "", None),
        ("c2", 0, "user", "They launched the report.", "", None),  # no antecedent
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.Timestamp("2025-01-01")
    m = extract_mentions(transcripts_from_pandas(spark, pdf))
    out = {(r["conv_id"], r["turn_idx"], r["sent_idx"], r["pronoun"]):
           r["antecedent"] for r in resolve_pronouns(m).collect()}
    assert out[("c1", 1, 0, "she")] == "Alice"
    # 'He' in sentence 1 of turn 2 binds Bob (same turn, earlier sentence)
    assert out[("c1", 2, 1, "he")] == "Bob"
    assert out[("c1", 3, 0, "it")] == "service"
    assert out[("c1", 4, 0, "this")] == "service"
    assert out[("c2", 0, 0, "they")] is None


def test_coref_fanout_bounded_by_window(spark):
    """Mega-conversation fan-out guard (round-2 verdict #5): with the
    turn-bucket equi-key, a 10k-turn conversation with one name and one
    pronoun per turn produces O(pronouns × window) candidate pairs — a
    conv_id-only key would produce ~pronouns × names / 2 ≈ 50M."""
    from ie_spark.pipeline.coref import _candidate_pairs
    n, lookback = 10_000, 10
    rows = []
    for t in range(n):
        rows.append(("mega", t, 0, f"m_n{t}", "propername", "Alice"))
        rows.append(("mega", t, 1, f"m_p{t}", "pronoun", "she"))
    m = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, sent_idx int, "
              "mention_id string, kind string, stem string")
    cands = _candidate_pairs(m, lookback).count()
    # each pronoun sees ≤ lookback+1 turns × 1 name (+ ≤2 null rows)
    bound = n * (lookback + 3)
    assert cands <= bound, f"{cands} candidate pairs > O(window) bound {bound}"
    # and every pronoun still resolves to the nearest name
    from ie_spark.pipeline.coref import resolve_pronouns
    got = resolve_pronouns(m, lookback_turns=lookback).count()
    assert got == n


def test_extraction_job_heals_torn_bucket_writes(spark, tmp_path):
    """Crash recovery: files left by a failed attempt in a bucket whose
    checkpoint row never committed are REPLACED on re-run (dynamic
    partition overwrite), not appended to."""
    import shutil
    from ie_spark.pipeline.graph import run_extraction_job
    tr, _, _ = corpus_to_pandas(n_convs=20, seed=3)
    df = transcripts_from_pandas(spark, tr)
    out = str(tmp_path / "jobheal")
    run_extraction_job(spark, df, out, n_buckets=4)
    triples_path = os.path.join(out, "triples")
    n_clean = spark.read.parquet(triples_path).count()
    # simulate a torn write: duplicate one bucket's files in place
    bdir = next(d for d in os.listdir(triples_path)
                if d.startswith("_bucket="))
    bpath = os.path.join(triples_path, bdir)
    for f in list(os.listdir(bpath)):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(bpath, f),
                        os.path.join(bpath, "torn-" + f))
    assert spark.read.parquet(triples_path).count() > n_clean  # corrupted
    # drop the checkpoints → every bucket reprocesses; overwrite heals
    shutil.rmtree(os.path.join(out, "_checkpoints"))
    s = run_extraction_job(spark, df, out, n_buckets=4)
    assert sorted(s["processed"]) == [0, 1, 2, 3]
    assert spark.read.parquet(triples_path).count() == n_clean


def test_extraction_job_clears_stale_files_for_empty_buckets(spark, tmp_path):
    """ADVICE round-2: dynamic partition overwrite only replaces
    partitions PRESENT in the new write — a re-processed bucket whose
    input became empty must still have its torn files dropped, and a
    fully-empty first run must not crash on read-back schema inference."""
    import shutil
    from ie_spark.pipeline.graph import run_extraction_job
    tr, _, _ = corpus_to_pandas(n_convs=20, seed=3)
    df = transcripts_from_pandas(spark, tr)
    out = str(tmp_path / "jobstale")
    run_extraction_job(spark, df, out, n_buckets=4)
    triples_path = os.path.join(out, "triples")
    buckets = sorted(int(d.split("=")[1]) for d in os.listdir(triples_path)
                     if d.startswith("_bucket="))
    victim = buckets[0]
    # drop checkpoints (all buckets reprocess) and feed an input where the
    # victim bucket has NO rows: its stale directory must disappear
    shutil.rmtree(os.path.join(out, "_checkpoints"))
    from ie_spark.pipeline.graph import _bucket_col
    df_missing = (df.withColumn("_b", _bucket_col(4))
                  .filter(F.col("_b") != victim).drop("_b"))
    run_extraction_job(spark, df_missing, out, n_buckets=4)
    left = [d for d in os.listdir(triples_path)
            if d == f"_bucket={victim}"]
    assert not left, f"stale bucket dir survived: {left}"
    # fully-empty first run: no crash, all-zero checkpoints
    out2 = str(tmp_path / "jobempty")
    s = run_extraction_job(spark, df.limit(0), out2, n_buckets=4)
    assert sorted(s["processed"]) == [0, 1, 2, 3]


def test_verbnet_classing(spark):
    """C10 parity: the frozen public VerbNet member→class table classes
    edge predicates via a broadcast join (reference kb/verbnet.py:12-40
    name_index); unknown verbs stay NULL."""
    from ie_spark.kb.verbnet import verb_class_df, with_verb_classes
    edges = spark.createDataFrame(
        [("a", "give", "b"), ("a", "say", "b"), ("a", "frobnicate", "b")],
        "src string, pred string, dst string")
    out = {r["pred"]: r["verb_class"]
           for r in with_verb_classes(edges, verb_class_df(spark)).collect()}
    assert out["give"] == "give-13.1"
    assert out["say"] == "indicate-78"  # lexicographically smallest class
    assert out["frobnicate"] is None
    plan = with_verb_classes(edges, verb_class_df(spark))\
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_degree_profile(spark):
    """Degree analytics over a hand-built edge list: counts, distinct
    neighbors, full-outer coverage of source-only and sink-only nodes."""
    from ie_spark.pipeline.analytics import degree_profile
    edges = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "b"), ("a", "q", "c"),
         ("b", "p", "c"), ("d", "p", "a")],
        "src string, pred string, dst string")
    rows = {r["node"]: r.asDict() for r in degree_profile(edges).collect()}
    assert rows["a"]["out_degree"] == 3
    assert rows["a"]["out_neighbors"] == 2  # b (twice) + c
    assert rows["a"]["in_degree"] == 1
    assert rows["c"]["out_degree"] == 0     # sink-only node still present
    assert rows["c"]["in_neighbors"] == 2
    assert rows["d"]["in_degree"] == 0      # source-only node still present
    assert all(r["total_degree"] == r["out_degree"] + r["in_degree"]
               for r in rows.values())
    # deterministic total order: degree desc, node asc
    nodes = [r["node"] for r in degree_profile(edges).collect()]
    assert nodes[0] == "a"


def test_two_hop_paths_hub_cap(spark):
    """Two-hop reachability: distinct-intermediate counts, round-trip
    exclusion, and the max_fanout hub cap actually excluding a hub
    intermediate (the oracle corpus never binds the cap — this does)."""
    from ie_spark.pipeline.analytics import two_hop_paths
    edges = spark.createDataFrame(
        # x -> {m1, m2} -> y (two intermediates), plus a hub h with
        # 3 in-neighbors and 1 out-neighbor, and a round trip r <-> s
        [("x", "p", "m1"), ("x", "p", "m2"),
         ("m1", "p", "y"), ("m2", "p", "y"),
         ("x", "p", "h"), ("u", "p", "h"), ("v", "p", "h"),
         ("h", "p", "z"),
         ("r", "p", "s"), ("s", "p", "r")],
        "src string, pred string, dst string")
    out = {(r["src"], r["dst"]): r["n_mid"]
           for r in two_hop_paths(edges, max_fanout=10).collect()}
    assert out[("x", "y")] == 2           # both intermediates counted once
    assert ("r", "r") not in out          # round trip excluded
    assert out[("x", "z")] == 1           # through h, under the cap
    # cap binds: h has 3 distinct in-neighbors > max_fanout=2
    capped = {(r["src"], r["dst"]): r["n_mid"]
              for r in two_hop_paths(edges, max_fanout=2).collect()}
    assert ("x", "z") not in capped       # h excluded as intermediate
    assert capped[("x", "y")] == 2        # m1/m2 unaffected by the cap


def test_two_hop_cap_cross_engine(spark):
    """The hub cap must mean the same thing in BOTH engines: the driver
    oracle's cap branch never binds on the corpus (no node reaches
    max_fanout=1000), so force it to bind here on planted edges and
    compare Spark against the SAME SQL tail the oracle uses."""
    import duckdb
    from __spark_entry__ import _two_hop_sql_tail
    from ie_spark.pipeline.analytics import two_hop_paths
    rows = [("x", "m1"), ("x", "m2"), ("m1", "y"), ("m2", "y"),
            ("x", "h"), ("u", "h"), ("v", "h"), ("h", "z"),
            ("r", "s"), ("s", "r")]
    edges = spark.createDataFrame([(s, "p", d) for s, d in rows],
                                  "src string, pred string, dst string")
    for cap in (2, 10):
        got = sorted((r["src"], r["dst"], r["n_mid"])
                     for r in two_hop_paths(edges, max_fanout=cap).collect())
        vals = ", ".join(f"('{s}', '{d}')" for s, d in rows)
        sql = (f"WITH e(src, dst) AS (SELECT * FROM (VALUES {vals})), "
               f"{_two_hop_sql_tail(cap)}")
        want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
        assert got == want, (cap, got, want)
    # cap=2 must actually exclude the hub path, cap=10 must keep it
    caps = {cap: dict(((r["src"], r["dst"]), r["n_mid"]) for r in
                      two_hop_paths(edges, max_fanout=cap).collect())
            for cap in (2, 10)}
    assert ("x", "z") not in caps[2] and caps[10][("x", "z")] == 1
