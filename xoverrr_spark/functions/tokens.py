"""Text analysis for training-data pipelines: token counting, document
fingerprinting, shingling, quality scoring — all JVM-side Column
expressions, all replayable in ANSI SQL for the DuckDB oracle.

Cross-engine hashing: ``md5_long`` parses the first 15 hex chars of md5 as
a 60-bit integer — identical in Spark (``conv(substring(md5(x),1,15),16,10)``)
and DuckDB (``('0x'||substr(md5(x),1,15))::BIGINT``), so MinHash/SimHash
pipelines can be verified value-for-value against an independent engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish tokenization: letter runs, digit runs, single non-space symbols.
# Spelled Java-style here; the DuckDB twin uses \pL (RE2 spelling).
BPE_TOKEN_RE = r"\p{L}+|[0-9]+|[^\p{L}0-9\s]"
BPE_TOKEN_RE_DUCKDB = r"\pL+|[0-9]+|[^\pL0-9\s]"


def md5_long(c: Column) -> Column:
    """Deterministic 60-bit integer hash, identical across Spark/DuckDB."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def md5_long_sql(expr: str) -> str:
    """DuckDB twin of ``md5_long`` (same value for the same string)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def normalized_text(c: Column) -> Column:
    """lower + whitespace collapse + trim — fingerprint canonical form."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(c: Column) -> Column:
    """Document fingerprint: md5 of the canonical form."""
    return F.md5(normalized_text(c))


def ws_token_count(c: Column) -> Column:
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_token_count(c: Column) -> Column:
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0)))


def deterministic_sample_flag(id_col: Column, rate_permille: Column) -> Column:
    """Content-deterministic sampling: keep iff md5-int(id) % 1000 < rate.

    Unlike ``df.sample``, the same row is always in or out regardless of
    partitioning/retries — required for resumable pipelines — and the same
    predicate replays in any engine (the DuckDB oracle verifies it).
    """
    return (md5_long(id_col.cast("string")) % 1000) < rate_permille


def quality_score(c: Column) -> Column:
    """Composite 0-100 text-quality score from cheap ratios (a scoring
    analogue of the reference's weighted final score, utils.py:104-110):
    40% alpha ratio + 30% distinct-word ratio + 30% length band."""
    n = F.length(c)
    alpha = F.when(n == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(c, r"[^\p{L}]", "")).cast("double") / n
    )
    words = F.split(F.trim(F.lower(c)), r"\s+")
    wc = F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(F.size(words))
    distinct_ratio = F.when(wc == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(words)).cast("double") / wc
    )
    len_band = F.when((n >= 20) & (n <= 2000), F.lit(1.0)).otherwise(
        F.when(n == 0, F.lit(0.0)).otherwise(F.lit(0.5))
    )
    return F.round(
        (alpha * 0.4 + distinct_ratio * 0.3 + len_band * 0.3) * 100, 4
    )
