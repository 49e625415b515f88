"""The flagship pipeline: image+caption quality filter.

Per BASELINE.json north_rule — for each row of an
``(image_id, bytes, w, h, fmt, caption, phash)`` table:

  normalize -> language-ID -> perplexity -> heuristic rules ->
  PII/toxicity scrub -> keep/drop + scrubbed caption

Architecture (Spark-first):

- Everything except perplexity is a JVM Column expression (whole-stage
  codegen); language-ID is ``regexp_count`` expressions, rules are boolean
  algebra, scrubbing is chained ``regexp_replace``.
- Perplexity is the one Python hop: a Series->Series pandas UDF whose
  numpy bigram table rides the closure (broadcast once per executor) and
  which is fully vectorized per Arrow batch (``np.add.reduceat``; zero
  per-row Python) — see ``functions/perplexity.py``. The hop's cost is
  therefore per-task Python-worker set-up, not per-row work; the scorer
  keeps that set-up cheap with ``pyworker.forget_zip_importers``. The UDF
  is built per call (``ppl_udf``), never once at import: pyspark builds a
  UDF's JVM function once, tied to the accumulator, environment and
  includes of the SparkContext that first used it, so after a session
  restart a module-level UDF still reports to the stopped context and
  misses the new context's py-files.
- The binary ``bytes`` column is never touched, never normalized, and is
  projected away before any wide operation; downstream joins re-attach it
  by ``image_id`` if needed (caption byte-equality / pixel invariants are
  verification-harness concerns, see ``operators/multimodal.py``).

The keep/drop decision generalizes the reference's row-level
``xsniff_passed`` y/n convention (``/root/reference/src/xoverrr/utils.py:
262-303``) to a ``drop_reasons: array<string>``; per-reason metrics come
from ``operators.sniff.drop_reason_breakdown``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import rulespec as R
from ..functions.langid import lang_from_scores, stopword_hits, tokens_column
from ..functions.perplexity import batch_perplexity
from ..functions.quality import (
    alpha_ratio,
    digit_count,
    drop_reasons_from_features,
    has_toxic,
)
from ..functions.scrub import scrub_caption


def ppl_udf(col: Column) -> Column:
    """Perplexity of ``col`` under the embedded char-bigram table."""
    return F.pandas_udf(batch_perplexity, T.DoubleType())(col)


OUTPUT_COLUMNS = [
    "image_id", "lang", "lang_conf", "ppl", "keep", "drop_reasons", "caption_scrubbed",
]

_INTERNAL = ["_ctrim", "_cnorm", "_toks", "_n", "_nd", "_wc", "_alpha",
             "_digit", "_distinct", "_toxic"] + [f"_s_{lang}" for lang in R.LANGS]


def annotate(
    df: DataFrame, caption_col: str = "caption", with_ppl: bool = True,
    ppl_udf_override=None,
) -> DataFrame:
    """Append pipeline columns to ``df`` (keeps all input columns).

    Shared features (tokens, counts, ratios, language scores) are
    materialized once per row; every rule then references plain attribute
    columns. Catalyst's CollapseProject keeps non-cheap multi-referenced
    aliases materialized, so nothing here is recomputed per rule — this
    exact restructuring took the pipeline from ~6k to >100k rows/s/8-cores.
    """
    # the TRIM_RE pass is materialized as its own attribute: inlining
    # norm_caption duplicates the trim regexp_replace into both the RLIKE
    # condition and the ELSE branch of the same CASE (visible in the r5
    # physical plan) — every row paid the trim regex twice (r6)
    df = df.withColumn(
        "_ctrim",
        F.regexp_replace(F.coalesce(F.col(caption_col), F.lit("")), R.TRIM_RE, ""),
    )
    df = df.withColumn(
        "_cnorm",
        F.when(F.col("_ctrim").rlike(R.NULLISH_RE), F.lit(R.NULL_REPLACEMENT))
        .otherwise(F.col("_ctrim")),
    )
    df = df.withColumns({
        "_toks": tokens_column(F.col("_cnorm")),
        "_n": F.length("_cnorm"),
        # digit COUNT materialized once: the ratio rule divides it and the
        # scrub phone-gate thresholds it (was two translate passes)
        "_nd": digit_count(F.col("_cnorm")),
        "_alpha": alpha_ratio(F.col("_cnorm")),
        "_toxic": has_toxic(F.col("_cnorm")),
    })
    df = df.withColumn(
        "_digit",
        F.when(F.col("_n") == 0, F.lit(0.0)).otherwise(
            F.col("_nd").cast("double") / F.col("_n")
        ),
    )
    df = df.withColumns({
        "_wc": F.size("_toks"),
        "_distinct": F.size(F.array_distinct("_toks")).cast("double") / F.size("_toks"),
        **{f"_s_{lang}": stopword_hits(F.col("_toks"), lang) for lang in R.LANGS},
    })
    lang, top = lang_from_scores({lang: F.col(f"_s_{lang}") for lang in R.LANGS})
    df = df.withColumn("lang", lang).withColumn(
        "lang_conf",
        F.least(top.cast("double") / F.greatest(F.col("_wc"), F.lit(1)), F.lit(1.0)),
    )
    if with_ppl:
        # ppl_udf_override swaps in an artifact-backed scorer (functions/
        # models.py: SparkFiles-distributed char-LM / KenLM) behind the SAME
        # (string) -> double contract; default is the embedded-table UDF
        df = df.withColumn("ppl", (ppl_udf_override or ppl_udf)(F.col("_cnorm")))
        ppl_col = F.col("ppl")
    else:
        df = df.withColumn("ppl", F.lit(None).cast("double"))
        ppl_col = None
    reasons = drop_reasons_from_features(
        F.col("_cnorm"), F.col("_n"), F.col("_wc"), F.col("_alpha"),
        F.col("_digit"), F.col("_distinct"), F.col("_s_en"), F.col("lang"),
        F.col("_toxic"), ppl_col,
    )
    return (
        df.withColumn("drop_reasons", reasons)
        .withColumn("keep", F.size("drop_reasons") == 0)
        .withColumn(
            "caption_scrubbed",
            scrub_caption(F.col("_cnorm"), F.col("_toxic"), F.col("_nd")),
        )
        .drop(*_INTERNAL)
    )


def quality_filter(
    df: DataFrame, caption_col: str = "caption", with_ppl: bool = True,
    ppl_udf_override=None,
) -> DataFrame:
    """Decision-only projection: (image_id, lang, lang_conf, ppl, keep,
    drop_reasons, caption_scrubbed). The binary payload is pruned from the
    scan (Catalyst column pruning) because it is not referenced."""
    return annotate(df, caption_col, with_ppl, ppl_udf_override).select(*OUTPUT_COLUMNS)


def run_metrics(decisions: DataFrame) -> DataFrame:
    """Aggregate run metrics: totals + keep-rate (one small row)."""
    return decisions.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(F.col("keep"), 1)).alias("kept_rows"),
        (F.count(F.when(F.col("keep"), 1)) / F.count(F.lit(1)) * 100).alias("keep_pct"),
    )
