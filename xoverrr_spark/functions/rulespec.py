"""Single source of truth for the quality-filter rule set.

The pipeline's heuristic validation rules generalize the reference's
row-level check convention (``xsniff_passed`` y/n flag,
``/root/reference/src/xoverrr/utils.py:262-303``) and its null/blank
canonicalization (``utils.py:814-823``) into a per-caption rule battery
producing ``drop_reasons: array<string>``.

Every constant here is consumed by THREE implementations that must agree:

1. the Spark Column-expression / pandas-UDF pipeline (``pipeline/quality_filter.py``)
2. the independent pandas golden labeler (``fixtures/labeler.py``) — the
   "reference labels" for the F1 >= 0.99 gate
3. the DuckDB oracle SQL built by ``__spark_entry__.py``

All regexes are deliberately restricted to the RE2-compatible subset
(no backreferences, no lookaround) so Java regex (Spark) and RE2 (DuckDB)
agree byte-for-byte.
"""

from __future__ import annotations

# ---- trim semantics (ADVICE r01) ----
# F.trim / DuckDB trim() strip only 0x20 while Python str.strip() strips
# all unicode whitespace — a caption with a leading tab/newline would get
# different rule outcomes per engine. All three implementations therefore
# trim (and word-split on) the explicit ASCII class below; `\s` itself
# would still diverge (RE2's \s lacks \x0B; Python's non-ASCII \s is
# unicode-aware).
WS_CHARS = " \t\n\x0b\f\r"
WS_CLASS = r"[ \t\n\x0B\f\r]"
TRIM_RE = rf"^{WS_CLASS}+|{WS_CLASS}+$"

# ---- textual-null canonicalization (reference utils.py:821) ----
NULLISH_RE = r"(?i)^(none|nan|nat|\s*)$"
NULL_REPLACEMENT = "N/A"

# ---- language-ID: stopword-alternation heuristic ----
# Counting matches of anchored stopword alternations over the lowercased
# caption; argmax wins, ties broken by LANGS order; no hits => 'und'.
LANGS = ["en", "de", "fr", "es"]
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "was", "it", "for", "with", "that", "on", "as", "are", "this"],
    # ASCII-only on purpose: \b is ASCII-defined in Java regex and RE2 but
    # unicode-aware in Python re — accented stopwords would diverge.
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von", "sich", "auf", "im"],
    "fr": ["le", "la", "les", "et", "est", "dans", "que", "pour", "une", "un", "des", "du", "qui", "sur", "avec"],
    "es": ["el", "los", "las", "y", "es", "en", "que", "por", "una", "un", "del", "se", "con", "para", "como"],
}


# ---- rule thresholds ----
MIN_CAPTION_CHARS = 8
MAX_CAPTION_CHARS = 512
MIN_WORDS = 2
MIN_ALPHA_RATIO = 0.5      # unicode letters / total chars
MAX_DIGIT_RATIO = 0.3      # ascii digits / total chars
REPETITION_MIN_WORDS = 5   # rule active only at >= this many words
MIN_DISTINCT_RATIO = 0.3   # distinct words / words
STOPWORD_RULE_MIN_WORDS = 8
MIN_STOPWORD_RATIO = 0.05  # en stopword hits / words, for en-classified text
LANG_RULE_MIN_WORDS = 4
ALLOWED_LANGS = ["en", "de", "fr", "es"]
PPL_MAX = 3000.0           # char-bigram perplexity ceiling (en only)

# drop-reason codes, in evaluation order
REASON_EMPTY = "empty"
REASON_TOO_SHORT = "too_short"
REASON_TOO_LONG = "too_long"
REASON_TOO_FEW_WORDS = "too_few_words"
REASON_LOW_ALPHA = "low_alpha_ratio"
REASON_HIGH_DIGIT = "high_digit_ratio"
REASON_REPETITIVE = "repetitive"
REASON_LOW_STOPWORD = "low_stopword_ratio"
REASON_LANG = "lang_unknown"
REASON_PPL = "high_perplexity"
REASON_TOXIC = "toxic"
ALL_REASONS = [
    REASON_EMPTY, REASON_TOO_SHORT, REASON_TOO_LONG, REASON_TOO_FEW_WORDS,
    REASON_LOW_ALPHA, REASON_HIGH_DIGIT, REASON_REPETITIVE,
    REASON_LOW_STOPWORD, REASON_LANG, REASON_PPL, REASON_TOXIC,
]

# ---- regex building blocks (RE2-safe) ----
WORD_SPLIT_RE = rf"{WS_CLASS}+"
LETTER_RE = r"\p{L}"        # Spark (Java regex) spelling
LETTER_RE_DUCKDB = r"\pL"   # RE2 spelling
DIGIT_RE = r"[0-9]"

# PII scrub (applied in this order; reference analogue: the regex converter
# chains of adapters/postgres.py:339-350 repurposed as scrubbers)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
EMAIL_TOKEN = "<EMAIL>"
PHONE_RE = r"\+?[0-9][0-9()\-\s.]{6,}[0-9]"
PHONE_TOKEN = "<PHONE>"

# mild toxicity wordlist (placeholder terms + mild insults); matched
# case-insensitively as whole words and masked
TOXIC_WORDS = ["badword", "vileword", "stupid", "idiot", "moron", "hateful", "trash"]
TOXIC_RE = r"(?i)\b(" + "|".join(TOXIC_WORDS) + r")\b"
TOXIC_MASK = "****"
