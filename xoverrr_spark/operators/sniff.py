"""Row-level rule evaluation — the Spark-native ``check_sniff_query``.

Behavior matched from the reference (``/root/reference/src/xoverrr/core.py:620-747``,
``utils.py:246-303``): a query/table carries an ``xsniff_passed`` flag column
(``'y'``/``'n'``); failed rows are counted, a status histogram and bounded
example rows are produced, and the score is ``100 - issue_rows_pct``
(``utils.py:192-238``; empty input => score 100).

The generalized form (used by the quality-filter pipeline) replaces the
single y/n flag with a ``drop_reasons: array<string>`` column — the
per-column issue counters of the reference's A4 become
``explode(drop_reasons) -> groupBy.count``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

XSNIFF_PASSED = "xsniff_passed"
FLAG_NO = "n"


@dataclass
class SniffStats:
    total_rows: int
    passed_rows: int
    issue_rows: int
    issue_rows_pct: float
    final_score: float


def sniff_histogram(df: DataFrame, flag_col: str = XSNIFF_PASSED) -> DataFrame:
    """Status-value histogram (reference utils.py:286-291)."""
    return (
        df.groupBy(F.col(flag_col).alias("status_value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "status_value")
    )


def evaluate_sniff(df: DataFrame, flag_col: str = XSNIFF_PASSED) -> SniffStats:
    if flag_col not in [c.lower() for c in df.columns]:
        raise ValueError(f"Sniff query requires '{flag_col}' column; got: {df.columns}")
    row = df.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col(flag_col) == FLAG_NO, 1)).alias("issues"),
    ).collect()[0]
    total, issues = int(row["total"]), int(row["issues"])
    if total == 0:
        return SniffStats(0, 0, 0, 0.0, 100.0)
    pct = issues / total * 100
    return SniffStats(total, total - issues, issues, pct, 100 - pct)


def drop_reason_examples(
    df: DataFrame,
    key_col: str = "image_id",
    reasons_col: str = "drop_reasons",
    max_examples: int = 3,
) -> DataFrame:
    """Up to ``max_examples`` example keys per drop reason, deterministic
    (the pipeline analogue of the reference's per-category example caps,
    utils.py:285 / core.py:1290-1313)."""
    from pyspark.sql.window import Window

    exploded = df.select(
        F.col(key_col).alias("example_key"), F.explode(reasons_col).alias("reason")
    )
    w = Window.partitionBy("reason").orderBy("example_key")
    return (
        exploded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_examples)
        .select("reason", "example_key", "rn")
    )


def drop_reason_breakdown(df: DataFrame, reasons_col: str = "drop_reasons") -> DataFrame:
    """Generalized per-reason issue counters: explode the reasons array.

    Scale note: explode happens before a key-hashed partial aggregate — the
    shuffle carries one partial count per (partition, reason), i.e. bytes
    proportional to #reasons, not #rows.
    """
    return (
        df.select(F.explode(reasons_col).alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("issue_count"))
        .orderBy(F.desc("issue_count"), "reason")
    )
