"""``kg_build``: initial load of a KG from a fresh transcript table.

Timed job: ``run_pipeline`` over a seeded synthetic corpus
(``transcripts_spark``, written to parquet before the clock) into an empty
output directory.  Checks: distinct triple keys against the template
goldens of the same (convs, seed), and no extractor dead-letter rows.

The traced variant repeats ``run_pipeline``'s steps through the same
public functions, forcing each lazy result inside its own span.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

import reference
from ie_spark.data.synthetic import corpus_to_pandas, transcripts_spark
from ie_spark.extraction.pandas_api import extract_batch
from ie_spark.pipeline.canonicalize import (build_identity_edges,
                                            canonical_mention_map,
                                            canonical_nodes,
                                            connected_components)
from ie_spark.pipeline.coref import resolve_pronouns
from ie_spark.pipeline.extract import (extract_all, find_hot_convs,
                                       repartition_by_conv, split_combined)
from ie_spark.pipeline.graph import merge_upsert, write_checkpoint
from ie_spark.pipeline.linking import (build_candidate_dict, kb_metadata,
                                       link_mentions)
from ie_spark.pipeline.run import MENTION_KEYS, TRIPLE_KEYS, run_pipeline

CONVS = 600            # ≈ 5k turns at the default 1 % mega-conversations
SAMPLE_CONVS = 300     # fixed in-process extractor sample, seed 0
SALT_THRESHOLD = 100_000  # run_pipeline's default
COREF_KEYS = ["conv_id", "turn_idx", "sent_idx", "pronoun"]
EDGE_KEYS = ["src", "pred", "dst", "conv_id", "turn_idx", "sent_idx",
             "polarity"]


@dataclass
class Input:
    seed: int
    convs: int
    path: str      # transcript parquet
    out: str       # empty KG output directory


class KgBuild:
    name = "kg_build"

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.convs = max(20, int(CONVS * scale))

    def prepare(self, i: int) -> Input:
        seed = self.seed * 1000 + i
        d = os.path.join(self.work, f"kg{i}")
        path = os.path.join(d, "transcripts")
        transcripts_spark(self.spark, self.convs, seed=seed) \
            .write.parquet(path)
        return Input(seed, self.convs, path, os.path.join(d, "kg"))

    def run(self, inp: Input) -> dict:
        t = self.spark.read.parquet(inp.path)
        return run_pipeline(self.spark, t, inp.out)

    def input_rows(self, stats: dict) -> int:
        return stats["n_turns"]

    # ---- checks (outside the timed region) ----------------------------

    def check(self, inp: Input, stats: dict) -> dict:
        """→ {attempted, failed, match, problems}."""
        s = self.spark
        _, golden, _ = corpus_to_pandas(inp.convs, seed=inp.seed)
        triples = (s.read.parquet(os.path.join(inp.out, "triples"))
                   .select(*reference.TRIPLE_KEY).distinct().toPandas())
        m = reference.match_triples(triples, golden)
        errors = (s.read.parquet(os.path.join(inp.out, "mentions"))
                  .filter(F.col("kind") == "_error").count())
        problems = []
        if not m.ok:
            problems.append(f"triples: {m.matched} of {m.emitted} emitted "
                            f"match {m.expected} golden keys")
        if errors:
            problems.append(f"{errors} extractor dead-letter rows")
        if not (stats["n_nodes"] > 0 and stats["n_edges"] > 0):
            problems.append(f"empty graph: {stats}")
        return {"attempted": stats["n_turns"], "failed": errors,
                "match": m, "problems": problems}

    def same_result(self, a: dict, b: dict) -> list[str]:
        keys = ("n_turns", "n_mentions", "n_triples", "n_nodes", "n_edges")
        return [f"{k}: {a[k]} != {b[k]}" for k in keys if a[k] != b[k]]

    # ---- traced run ------------------------------------------------------

    def traced(self, tr, inp: Input) -> dict:
        """``run_pipeline``'s steps, each forced inside its own span."""
        s, out = self.spark, inp.out
        os.makedirs(out, exist_ok=True)
        offered = inserted = 0

        def merge(name, df, keys):
            nonlocal offered, inserted
            target = os.path.join(out, name)
            with tr.bookkeeping(f"count.{name}"):
                offered += df.count()
                before = (s.read.parquet(target).count()
                          if os.path.isdir(target) else 0)
            with tr.span("graph", f"merge.{name}"):
                merge_upsert(s, df, target, keys=keys)
            with tr.bookkeeping(f"count.{name}"):
                inserted += s.read.parquet(target).count() - before
            return s.read.parquet(target)

        transcripts = s.read.parquet(inp.path)
        with tr.span("extract", "partition"):
            parts = s.sparkContext.defaultParallelism * 2
            hot = find_hot_convs(transcripts, SALT_THRESHOLD)
            transcripts = repartition_by_conv(
                transcripts, parts, salt_buckets=parts if hot else 0,
                hot_convs=hot or None)
        staged = os.path.join(out, "_extracted")
        with tr.span("extract", "extract"):
            extract_all(transcripts).write.mode("overwrite").parquet(staged)
        combined = s.read.parquet(staged)
        with tr.bookkeeping("count.extracted"):
            self.rows_out = combined.count()
            self.error_rows = combined.filter(
                F.col("kind") == "_error").count()
        mentions, triples = split_combined(combined)
        mentions = merge("mentions", mentions, MENTION_KEYS)
        triples = merge("triples", triples, TRIPLE_KEYS)

        with tr.span("linking", "link"):
            linked = link_mentions(mentions, build_candidate_dict(s)) \
                .localCheckpoint(eager=True)
        with tr.bookkeeping("count.linked"):
            self.mentions_in = mentions.count()
            n_linked = linked.count()
            self.linked_frac = (linked.filter(F.col("entity_id").isNotNull())
                                .count() / max(n_linked, 1))
        linked = merge("linked", linked, MENTION_KEYS)

        with tr.span("coref", "resolve"):
            coref = resolve_pronouns(mentions).localCheckpoint(eager=True)
        with tr.bookkeeping("count.coref"):
            self.coref_rows = coref.count()
        merge("coref", coref, COREF_KEYS)

        with tr.span("canonicalize", "cc"):
            labels = connected_components(
                build_identity_edges(linked, triples))
        with tr.span("canonicalize", "nodes"):
            canonical_nodes(labels, linked, kb=kb_metadata(s)) \
                .write.mode("overwrite").parquet(os.path.join(out, "nodes"))
        with tr.bookkeeping("count.nodes"):
            self.nodes_rows = s.read.parquet(os.path.join(out, "nodes")) \
                .count()

        with tr.span("run", "edges"):
            mmap = F.broadcast(canonical_mention_map(labels))
            ev = triples.filter(~F.col("pred").isin("_AKA", "_POSS"))
            edges = (ev
                     .join(mmap.withColumnRenamed("stem", "subj")
                           .withColumnRenamed("node_id", "src"), "subj",
                           "left")
                     .join(mmap.withColumnRenamed("stem", "obj")
                           .withColumnRenamed("node_id", "dst"), "obj",
                           "left")
                     .select(F.coalesce("src", F.concat(F.lit("M:"), "subj"))
                             .alias("src"),
                             "pred",
                             F.coalesce("dst", F.concat(F.lit("M:"), "obj"))
                             .alias("dst"),
                             "conv_id", "turn_idx", "sent_idx", "polarity")
                     .localCheckpoint(eager=True))
        merge("edges", edges, EDGE_KEYS)

        with tr.span("run", "stats"):
            stats = {
                "n_turns": transcripts.count(),
                "n_mentions": mentions.count(),
                "n_triples": triples.count(),
                "n_nodes": s.read.parquet(os.path.join(out, "nodes")).count(),
                "n_edges": s.read.parquet(os.path.join(out, "edges")).count(),
            }
            write_checkpoint(s, os.path.join(out, "_checkpoints"), "traced",
                             bucket=-1, n_turns=stats["n_turns"],
                             n_triples=stats["n_triples"], wall_ms=0,
                             lineage=f"run_pipeline:v1:{out}")
        self.rows_offered, self.rows_inserted = offered, inserted
        return stats

    def layer_metrics(self, tr, stats: dict, cores: int) -> dict:
        tps = batch_turns_per_s()
        extract_s = tr.layer_seconds("extract")
        m = {
            "extract.wall_s": extract_s,
            "extract.rows_out": self.rows_out,
            "extract.error_rows": self.error_rows,
            "extraction.batch_turns_per_s": tps,
            "extract.python_share":
                stats["n_turns"] / (tps * cores) / extract_s,
            "linking.wall_s": tr.layer_seconds("linking"),
            "linking.mentions_in": self.mentions_in,
            "linking.linked_frac": self.linked_frac,
            "coref.wall_s": tr.layer_seconds("coref"),
            "coref.rows_out": self.coref_rows,
            "graph.rows_offered": self.rows_offered,
            "graph.rows_inserted": self.rows_inserted,
            "graph.insert_ratio":
                self.rows_inserted / max(self.rows_offered, 1),
            "canonicalize.cc_s": tr.layer_seconds("canonicalize", "cc"),
            "canonicalize.cc_jobs":
                tr.layer_counts("canonicalize", "cc")["jobs"],
            "canonicalize.nodes_s": tr.layer_seconds("canonicalize", "nodes"),
            "canonicalize.nodes_rows": self.nodes_rows,
            "run.edges_s": tr.layer_seconds("run", "edges"),
            "run.stats_s": tr.layer_seconds("run", "stats"),
        }
        for t in ("mentions", "triples", "linked", "coref", "edges"):
            m[f"graph.merge_s.{t}"] = tr.layer_seconds("graph", f"merge.{t}")
        return m


def batch_turns_per_s(reps: int = 3) -> float:
    """``extract_batch`` in this process, one core, over a fixed sample:
    the extractor's pure-Python speed with no Arrow boundary."""
    pdf, _, _ = corpus_to_pandas(SAMPLE_CONVS, seed=0)
    pdf = pdf[["conv_id", "turn_idx", "text"]]
    extract_batch(pdf.head(50))  # first-call imports and caches
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        extract_batch(pdf)
        times.append(time.perf_counter() - t0)
    return len(pdf) / statistics.median(times)
