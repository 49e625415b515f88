"""Gopher-style intra-document repetition signals.

Training-data quality filters (Rae et al. 2021, "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", table A1) drop documents
whose n-gram structure is dominated by repetition — boilerplate, keyword
stuffing, templated spam. This module computes the two classic signals over
word bigrams:

- ``dup_bigram_frac`` — fraction of bigram *instances* that are repeats of
  an earlier instance (``(total - distinct) / total``),
- ``top_bigram_frac`` — fraction of instances taken by the single most
  frequent bigram (``max_count / total``).

Shape: one explode + two hash aggregations, both with map-side partial
aggregation; no joins, no windows. The (doc_id, bigram) key is near-unique,
so the first shuffle carries ~one row per bigram instance and the second
collapses to one row per document — the plan scales linearly in corpus size
and is skew-free (a pathological one-bigram document still contributes a
single (doc, bigram) row after partial aggregation).

Fractions are a SINGLE double division of two exact integers — IEEE 754
division is correctly rounded, so the DuckDB oracle twin reproduces the
value bit-for-bit (same policy as langid's ``lang_conf``).

This extends the reference's row-level rule battery (sniff predicates,
/root/reference/src/xoverrr/utils.py:262) with a corpus-statistics rule the
single-node engine has no analogue for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document bigram repetition statistics.

    Returns one row per document that has at least one bigram (single-word,
    empty, and null-text documents have no repetition signal and are
    excluded — callers wanting them treat absence as frac 0):
    ``(id_col, n_bigrams, dup_bigrams, top_count, dup_bigram_frac,
    top_bigram_frac)``.
    """
    # hashed bigram keys, same trick as dedup.shingle_table: each word
    # md5-hashed ONCE into a materialized array (withColumn — a lambda-
    # captured tree re-evaluates per element_at), pairs combined with the
    # shared integer fold. The key universe is identical in the DuckDB
    # twin, so collisions (which would merge two bigrams) replay exactly.
    from .dedup import MINHASH_MOD, SHINGLE_P, md5_long40

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    with_wh = docs.select(
        F.col(id_col),
        F.transform(words, lambda w: md5_long40(w)).alias("_wh"),
    )
    wh = F.col("_wh")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(wh) - 1, F.lit(1))),
        lambda i: (
            F.element_at(wh, i) * SHINGLE_P
            + F.coalesce(F.try_element_at(wh, i + 1), F.lit(0))
        ) % MINHASH_MOD,
    )
    empty = F.array().cast("array<bigint>")
    inst = with_wh.select(
        F.col(id_col),
        F.explode(F.when(F.size(wh) >= 2, grams).otherwise(empty)).alias("bigram"),
    )
    per_bigram = inst.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_bigram.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"),
        (F.sum("c") - F.count(F.lit(1))).alias("dup_bigrams"),
        F.max("c").alias("top_count"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        "dup_bigrams",
        "top_count",
        (F.col("dup_bigrams") * F.lit(1.0) / F.col("n_bigrams")).alias(
            "dup_bigram_frac"
        ),
        (F.col("top_count") * F.lit(1.0) / F.col("n_bigrams")).alias(
            "top_bigram_frac"
        ),
    )


def repetitive_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_frac: float = 0.5,
    max_top_frac: float = 0.3,
) -> DataFrame:
    """Documents FLAGGED as repetitive (Gopher-style drop candidates).

    A doc is flagged when either fraction exceeds its threshold. Returns the
    flagged ids with both fractions so a curation pipeline can anti-join
    (broadcast when small) or report drop reasons.
    """
    s = repetition_stats(docs, id_col, text_col)
    return s.filter(
        (F.col("dup_bigram_frac") > max_dup_frac)
        | (F.col("top_bigram_frac") > max_top_frac)
    ).select(id_col, "dup_bigram_frac", "top_bigram_frac")
