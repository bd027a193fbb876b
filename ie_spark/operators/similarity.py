"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k for one query vector — the
  baseline and the verifier. One scan, no shuffle except the final top-k.
- ``hyperplane_sketch`` + ``ann_topk``: random-hyperplane LSH bucketing —
  the scale path: candidates restricted to the query's bucket (and
  neighbors at hamming ≤ 1), turning a 100 TB scan into a bucket-pruned
  scan when the sketch is a partition/sort key of the stored table.
- ``knn_join``: k nearest corpus neighbors for every query row (small query
  side broadcast).

All dot products are `zip_with`+`aggregate` expressions — JVM-side, inside
whole-stage codegen; no Python in the hot path.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm(v) -> Column:
    return F.sqrt(F.aggregate(
        v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))


def cosine_topk(emb: DataFrame, query: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                decimals: int = 6) -> DataFrame:
    """Exact brute-force cosine top-k for one query vector.

    → (id, score) ordered by score desc, id asc (deterministic ties);
    the score is rounded once, to ``decimals`` places — rounding it again
    coarser would turn e.g. 0.3067498 into 0.30675 and then 0.3068."""
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = math.sqrt(sum(float(x) * x for x in query)) or 1.0
    # scale-adaptive fan-out (guide §2.5): a single-file corpus arrives as
    # ONE scan partition and the interpreted HOF dot products serialize on
    # one core; no-op whenever the scan is already parallel
    from ie_spark.operators.partitioning import adaptive_fan_out
    emb = adaptive_fan_out(emb, id_col)
    scored = emb.select(
        F.col(id_col),
        (_dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(qn)))
        .alias("score"))
    return (scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
            .select(id_col, F.round("score", decimals).alias("score")))


def random_hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (frozen by seed)."""
    r = random.Random(seed)
    planes = []
    for _ in range(bits):
        v = [r.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def hyperplane_sketch(vec_col: Column, bits: int, dim: int = 64,
                      seed: int = 42) -> Column:
    """Sign-of-dot-product LSH sketch as an int column (expression only)."""
    planes = random_hyperplanes(dim, bits, seed)
    sketch = F.lit(0)
    for i, p in enumerate(planes):
        pa = F.array(*[F.lit(float(x)) for x in p])
        sketch = sketch + F.when(_dot(vec_col, pa) > 0,
                                 F.lit(1 << i)).otherwise(F.lit(0))
    return sketch.cast("int")


def ann_topk(emb: DataFrame, query: list[float], k: int = 10, bits: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             probe_hamming: int = 1, seed: int = 42) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane sketch is
    within ``probe_hamming`` of the query's sketch.  At scale the sketch is
    precomputed + used as partition key → partition pruning replaces the
    full scan; here it is computed on the fly (filter still prunes the
    expensive dot products to the candidate set)."""
    dim = len(query)
    planes = random_hyperplanes(dim, bits, seed)
    q_sketch = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(p, query)) > 0:
            q_sketch |= 1 << i
    sk = hyperplane_sketch(F.col(vec_col), bits, dim=dim, seed=seed)
    cand = emb.withColumn("_sketch", sk).filter(
        F.bit_count(F.col("_sketch").bitwiseXOR(F.lit(q_sketch)))
        <= probe_hamming)
    return cosine_topk(cand, query, k=k, id_col=id_col, vec_col=vec_col)


def knn_join(emb: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """For each query row: its k nearest corpus rows by cosine.

    Broadcast the (small) query side; the corpus scans once.  The top-k
    is effectively two-phase (round-2 verdict #4): Spark's rank-limit
    pushdown plans a *Partial* ``WindowGroupLimit`` BEFORE the q_id
    exchange, so each input partition ships at most k rows per query —
    the exchange never carries the full corpus×queries row set, and no
    single reducer holds a corpus scan's output.  Guarded by
    ``test_plans.py::test_knn_join_shuffles_only_local_topk`` so a plan
    regression (e.g. an expression that defeats the pushdown) can't land
    silently."""
    j = emb.crossJoin(F.broadcast(queries))
    score = (_dot(F.col(vec_col), F.col(q_vec_col))
             / (_norm(F.col(vec_col)) * _norm(F.col(q_vec_col))))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (j.withColumn("score", score)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select(q_id_col, id_col, F.round("score", 6).alias("score"),
                    F.col("rn").alias("rank")))
