"""Heuristic caption-quality rules as Column expressions.

Generalizes the reference's row-level validation convention
(``xsniff_passed`` y/n, ``/root/reference/src/xoverrr/utils.py:262-303``)
into a battery of vectorized rules producing ``drop_reasons:
array<string>``. All rules are JVM-side expressions; thresholds live in
``rulespec``.

Hot-path design: the pipeline materializes shared features ONCE per row
(tokens, word count, ratios, language scores) in a feature projection and
feeds plain attribute columns to ``drop_reasons_from_features`` — Catalyst
must never be handed an expression tree that repeats the tokenizer per
rule (that formulation measured ~10x slower). ``translate`` replaces regex
for digit counting (charmap beats regex scan).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import rulespec as R


def norm_caption(text: Column) -> Column:
    """Trim + textual-null canonicalization (reference utils.py:814-823):
    whitespace-only / 'None' / 'nan' / 'NaT' (any case) -> 'N/A'.
    Trims the full ASCII whitespace class (rulespec.TRIM_RE) — F.trim
    strips 0x20 only, which diverged from the golden labeler's str.strip()
    on tab/newline edges (ADVICE r01)."""
    t = F.regexp_replace(F.coalesce(text, F.lit("")), R.TRIM_RE, "")
    return F.when(t.rlike(R.NULLISH_RE), F.lit(R.NULL_REPLACEMENT)).otherwise(t)


def alpha_ratio(text: Column) -> Column:
    n = F.length(text)
    letters = F.length(F.regexp_replace(text, r"[^\p{L}]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(letters.cast("double") / n)


def digit_count(text: Column) -> Column:
    return F.length(text) - F.length(F.translate(text, "0123456789", ""))


def has_toxic(text: Column) -> Column:
    # rlike, not regexp_count > 0: the existence test stops at the FIRST
    # match instead of scanning the whole string and materializing every
    # match (r6; identical boolean for any input)
    return text.rlike(R.TOXIC_RE)


def drop_reasons_from_features(
    caption_norm: Column,
    n: Column,
    words: Column,
    alpha: Column,
    digit: Column,
    distinct_ratio: Column,
    s_en: Column,
    lang: Column,
    toxic: Column,
    ppl: Column | None,
) -> Column:
    """array<string> of fired rules (rulespec.ALL_REASONS order) from
    MATERIALIZED feature columns. 'empty' short-circuits to itself."""
    checks = [
        (R.REASON_TOO_SHORT, n < R.MIN_CAPTION_CHARS),
        (R.REASON_TOO_LONG, n > R.MAX_CAPTION_CHARS),
        (R.REASON_TOO_FEW_WORDS, words < R.MIN_WORDS),
        (R.REASON_LOW_ALPHA, alpha < R.MIN_ALPHA_RATIO),
        (R.REASON_HIGH_DIGIT, digit > R.MAX_DIGIT_RATIO),
        (
            R.REASON_REPETITIVE,
            (words >= R.REPETITION_MIN_WORDS) & (distinct_ratio < R.MIN_DISTINCT_RATIO),
        ),
        (
            R.REASON_LOW_STOPWORD,
            (lang == "en")
            & (words >= R.STOPWORD_RULE_MIN_WORDS)
            & (s_en.cast("double") / words < R.MIN_STOPWORD_RATIO),
        ),
        (R.REASON_LANG, (lang == "und") & (words >= R.LANG_RULE_MIN_WORDS)),
    ]
    if ppl is not None:
        checks.append((R.REASON_PPL, (lang == "en") & (ppl > R.PPL_MAX)))
    checks.append((R.REASON_TOXIC, toxic))

    fired = F.array_compact(
        F.array(*[F.when(cond, F.lit(code)) for code, cond in checks])
    )
    return F.when(
        caption_norm == R.NULL_REPLACEMENT, F.array(F.lit(R.REASON_EMPTY))
    ).otherwise(fired)
