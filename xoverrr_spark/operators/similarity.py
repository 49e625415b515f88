"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Query side is small and broadcast; the corpus side streams, so cost is
  one pass over the corpus per batch of queries (no shuffle of the corpus).
  Dot products are ``zip_with``/``aggregate`` Column expressions
  (JVM-side, codegen'd) — no Python in the hot path.
- ``embedding_near_dups``: cosine >= threshold pairs (near-dup modality for
  embedding-space dedup) — banded random-hyperplane LSH buckets shrink the
  candidate set, exact cosine reranks. Planes are seeded numpy constants
  shipped as array literals (broadcast with the plan).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..intermediates import persist


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with a zero-vector guard: a zero embedding (the
    classic failed-encoder artifact) would make this 0/0 = NaN, and Spark
    ORDERS NaN ABOVE every real number — so one zero vector in the corpus
    would surface as the rank-1 neighbor of EVERY query. Zero-norm pairs
    score 0.0 instead (the oracle twins mirror the CASE). The denominator
    tree is referenced twice (guard + division) — a bounded 2x on two
    small array folds, not the combinatorial when-chain blowup CLAUDE.md
    bans."""
    den = _norm(a) * _norm(b)
    return F.when(den == F.lit(0.0), F.lit(0.0)).otherwise(_dot(a, b) / den)


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, cos, rank).

    Self-matches (same id) are excluded. Broadcast the (small) query side.
    """
    # norms are per-VECTOR, so compute them once per row on each side
    # before the pair join (r6; guide §1.2 per-task work): the previous
    # per-pair cosine() re-folded both norms for every (query, neighbor)
    # pair — 3 array folds per pair instead of 1. Same IEEE ops in the
    # same order (den = norm(q)*norm(c)), so every value is bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("_qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("_cn", _norm(F.col("cv")))
    den = F.col("_qn") * F.col("_cn")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.when(den == F.lit(0.0), F.lit(0.0))
            .otherwise(_dot(F.col("qv"), F.col("cv")) / den)
            .alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 20240816) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


# Banded-LSH parameters for embedding near-dup pairing. Shared with the
# DuckDB oracle (oracle.py replays the same plane literals and fold order),
# so candidate sets match value-for-value across engines.
NEAR_DUP_BANDS = 4
NEAR_DUP_PLANES_PER_BAND = 2
NEAR_DUP_PLANE_SEED = 777017


def band_buckets(vec: Column, planes: np.ndarray, bands: int) -> list[Column]:
    """(band, bkey) structs — one per band; bkey packs the sign bits of the
    band's hyperplane dot products. Pairs within cosine threshold t share a
    band with prob 1-(1-p^r)^m, p = 1-acos(t)/pi."""
    per = len(planes) // bands
    out = []
    for b in range(bands):
        bits = None
        for i in range(per):
            p = planes[b * per + i]
            plane = F.array(*[F.lit(float(x)) for x in p])
            bit = F.when(_dot(vec, plane) > 0, F.lit(1 << i).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            bits = bit if bits is None else bits + bit
        out.append(F.struct(F.lit(b).alias("band"), bits.alias("bkey")))
    return out


def embedding_band_buckets(
    corpus: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bands: int = NEAR_DUP_BANDS, planes_per_band: int = NEAR_DUP_PLANES_PER_BAND,
    dim: int = 64, seed: int = NEAR_DUP_PLANE_SEED,
) -> DataFrame:
    """(vid, band, bkey) hyperplane-LSH bucket table — the candidate-
    generation input of ``embedding_near_dups``, exposed so
    ``dedup.bucket_size_stats`` can audit the cap on this modality too."""
    planes = hyperplanes(dim, bands * planes_per_band, seed)
    v = corpus.select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("ve"))
    return v.select(
        "vid", F.explode(F.array(*band_buckets(F.col("ve"), planes, bands))).alias("bb")
    ).select("vid", "bb.band", "bb.bkey")


def embedding_near_dups(
    corpus: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bands: int = NEAR_DUP_BANDS, planes_per_band: int = NEAR_DUP_PLANES_PER_BAND,
    dim: int = 64, seed: int = NEAR_DUP_PLANE_SEED,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine >= threshold, id_a < id_b —
    banded random-hyperplane LSH candidates, exact-cosine rerank.
    ``max_bucket_size`` defaults to None (exact recall); production
    pipelines over scraped corpora should pass
    ``dedup.DEFAULT_MAX_BUCKET`` and audit with ``bucket_size_stats``.

    Scale shape: the corpus is never broadcast and never cross-joined —
    candidates come from a per-band bucket self-join (O(docs x bands)
    shuffle), then ONLY candidate pairs join back to their two vectors for
    the exact cosine. The bucket table (with its 2x``bands`` plane-dot
    projections) is PERSISTED before the self-join — Spark never reuses an
    exchange across a self-join's two sides, so without the cache every
    plane dot runs twice; the caller's ``intermediates.scope()`` frees it
    once the result is materialized. ``max_bucket_size`` caps degenerate
    buckets (a flood of identical/zero vectors — failed encoders are
    common in scraped corpora — lands in ONE bucket in EVERY band and
    self-joins quadratically); the cap is the same replayable HAVING predicate as
    the text-LSH cap, and ``dedup.bucket_size_stats`` audits what it
    drops. Recall at the threshold is 1-(1-p^r)^m with
    p = 1-acos(threshold)/pi (~0.999 at cos 0.95 with 4x2 planes); the
    DuckDB oracle replays the identical planes and IEEE fold order, so the
    driver parity check is exact, not recall-bounded.
    """
    from .dedup import _cap_buckets

    v = corpus.select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("ve"))
    buckets = embedding_band_buckets(
        corpus, id_col, vec_col, bands, planes_per_band, dim, seed
    )
    buckets = persist(_cap_buckets(buckets, max_bucket_size))
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )
    return (
        cands.join(v.select(F.col("vid").alias("id_a"), F.col("ve").alias("va")), "id_a")
        .join(v.select(F.col("vid").alias("id_b"), F.col("ve").alias("vb")), "id_b")
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dups_exact(
    corpus: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    probe_mod: int | None = None,
) -> DataFrame:
    """Brute-force all-pairs baseline (recall oracle for tests ONLY — O(n^2)
    and broadcasts the corpus; never the production path)."""
    a = corpus.select(F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va"))
    if probe_mod:
        a = a.filter(F.col("id_a") % probe_mod == 0)
    b = corpus.select(F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb"))
    return (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
