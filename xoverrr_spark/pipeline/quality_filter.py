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
  keeps that set-up cheap with ``pyworker.forget_zip_importers``.
- The projection's Column trees never change between calls, so they are
  built once per live SparkContext (``_projection``, cached in a
  ``WeakKeyDictionary`` keyed by the context) and every call only applies
  them: rebuilding them cost about 920 py4j round trips per call. The key
  is the context, not the process, and nothing is built at import: pyspark
  builds a UDF's JVM function once, tied to the accumulator, environment
  and includes of the SparkContext that first used it, so a ``ppl_udf``
  Column kept across a session restart would still report to the stopped
  context and miss the new context's py-files. The weak key lets a stopped
  context's Columns go with it.
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

import threading
import weakref

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

# SparkContext -> {(caption_col, with_ppl, ppl_udf_override): layers}; an
# override is held, and its build kept, for as long as its context lives
_PROJECTIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PROJECTIONS_LOCK = threading.Lock()


def _projection(
    caption_col: str, with_ppl: bool, ppl_udf_override,
) -> list[dict[str, Column]]:
    """``annotate``'s columns as layers in dependency order: a layer's
    Columns reference only input columns and earlier layers, so each layer
    is one ``withColumns``.

    Shared features (tokens, counts, ratios, language scores) are
    materialized once per row; every rule then references plain attribute
    columns. Catalyst's CollapseProject keeps non-cheap multi-referenced
    aliases materialized, so nothing here is recomputed per rule — this
    exact restructuring took the pipeline from ~6k to >100k rows/s/8-cores.
    """
    lang_col, top = lang_from_scores({lang: F.col(f"_s_{lang}") for lang in R.LANGS})
    if with_ppl:
        # ppl_udf_override swaps in an artifact-backed scorer (functions/
        # models.py: a SparkFiles-distributed char-LM artifact) behind the SAME
        # (string) -> double contract; default is the embedded-table UDF
        ppl = (ppl_udf_override or ppl_udf)(F.col("_cnorm"))
    else:
        ppl = F.lit(None).cast("double")
    return [
        # the TRIM_RE pass is materialized as its own attribute: inlining
        # norm_caption duplicates the trim regexp_replace into both the RLIKE
        # condition and the ELSE branch of the same CASE (visible in the r5
        # physical plan) — every row paid the trim regex twice (r6)
        {"_ctrim": F.regexp_replace(
            F.coalesce(F.col(caption_col), F.lit("")), R.TRIM_RE, "")},
        {"_cnorm": F.when(F.col("_ctrim").rlike(R.NULLISH_RE), F.lit(R.NULL_REPLACEMENT))
         .otherwise(F.col("_ctrim"))},
        {
            "_toks": tokens_column(F.col("_cnorm")),
            "_n": F.length("_cnorm"),
            # digit COUNT materialized once: the ratio rule divides it and the
            # scrub phone-gate thresholds it (was two translate passes)
            "_nd": digit_count(F.col("_cnorm")),
            "_alpha": alpha_ratio(F.col("_cnorm")),
            "_toxic": has_toxic(F.col("_cnorm")),
        },
        {
            "_digit": F.when(F.col("_n") == 0, F.lit(0.0)).otherwise(
                F.col("_nd").cast("double") / F.col("_n")
            ),
            "_wc": F.size("_toks"),
            "_distinct": F.size(F.array_distinct("_toks")).cast("double") / F.size("_toks"),
            **{f"_s_{lang}": stopword_hits(F.col("_toks"), lang) for lang in R.LANGS},
        },
        {
            "lang": lang_col,
            "lang_conf": F.least(
                top.cast("double") / F.greatest(F.col("_wc"), F.lit(1)), F.lit(1.0)
            ),
            "ppl": ppl,
        },
        {"drop_reasons": drop_reasons_from_features(
            F.col("_cnorm"), F.col("_n"), F.col("_wc"), F.col("_alpha"),
            F.col("_digit"), F.col("_distinct"), F.col("_s_en"), F.col("lang"),
            F.col("_toxic"), F.col("ppl") if with_ppl else None,
        )},
        {
            "keep": F.size("drop_reasons") == 0,
            "caption_scrubbed": scrub_caption(F.col("_cnorm"), F.col("_toxic"), F.col("_nd")),
        },
    ]


def _layered(
    df: DataFrame, caption_col: str, with_ppl: bool, ppl_udf_override,
) -> DataFrame:
    """``df`` with every projection layer applied, internal columns kept."""
    key = (caption_col, with_ppl, ppl_udf_override if with_ppl else None)
    with _PROJECTIONS_LOCK:
        built = _PROJECTIONS.setdefault(df.sparkSession.sparkContext, {})
        if key not in built:
            built[key] = _projection(*key)
        layers = built[key]
    for layer in layers:
        df = df.withColumns(layer)
    return df


def annotate(
    df: DataFrame, caption_col: str = "caption", with_ppl: bool = True,
    ppl_udf_override=None,
) -> DataFrame:
    """Append pipeline columns to ``df`` (keeps all input columns)."""
    return _layered(df, caption_col, with_ppl, ppl_udf_override).drop(*_INTERNAL)


def quality_filter(
    df: DataFrame, caption_col: str = "caption", with_ppl: bool = True,
    ppl_udf_override=None,
) -> DataFrame:
    """Decision-only projection: (image_id, lang, lang_conf, ppl, keep,
    drop_reasons, caption_scrubbed). The binary payload is pruned from the
    scan (Catalyst column pruning) because it is not referenced."""
    return _layered(df, caption_col, with_ppl, ppl_udf_override).select(*OUTPUT_COLUMNS)
