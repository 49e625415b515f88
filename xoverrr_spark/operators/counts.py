"""Per-day row-count reconciliation — the Spark-native ``check_counts``.

Behavior matched from the reference (``/root/reference/src/xoverrr/core.py:321-457``):
per-day counts on each side (pushed-down SQL there; a groupBy here), dates
cross-filled with 0 (``utils.py:959-975``), score from
``sum(abs(src-trg))`` vs ``sum(min(src,trg))`` (``core.py:402-419``,
``README.md:333-338``), mismatched days listed (``utils.py:914-927``).

Spark-first: the reference's chunked fetch + pandas concat + reindex becomes
one groupBy per side and one full-outer join on the date — two shuffles on a
low-cardinality date key, broadcast-joined automatically when one side's
daily summary is small (it always is: rows = #days).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def daily_counts(df: DataFrame, date_col: str | Column) -> DataFrame:
    """(dt, cnt) per day — reference A1 (adapters/postgres.py:236-263)."""
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return df.groupBy(F.to_date(c).alias("dt")).agg(F.count(F.lit(1)).alias("cnt"))


def counts_joined(src_daily: DataFrame, trg_daily: DataFrame) -> DataFrame:
    """Full-outer on dt with zero cross-fill (reference J8, utils.py:959-975).

    The join is NULL-SAFE: rows with a null date (events with null
    timestamps — always present in real feeds) aggregate into one null-dt
    daily row per side, and a plain equi-join would never match the two,
    reporting a phantom mismatch of that day's full count on BOTH sides.
    """
    s = src_daily.select(F.col("dt"), F.col("cnt").alias("src_cnt"))
    t = trg_daily.select(F.col("dt").alias("dt_t"), F.col("cnt").alias("trg_cnt"))
    return (
        s.join(t, F.col("dt").eqNullSafe(F.col("dt_t")), "full_outer")
        .select(
            F.coalesce("dt", "dt_t").alias("dt"),
            F.coalesce("src_cnt", F.lit(0)).alias("src_cnt"),
            F.coalesce("trg_cnt", F.lit(0)).alias("trg_cnt"),
        )
    )


def count_discrepancies(src_daily: DataFrame, trg_daily: DataFrame) -> DataFrame:
    """Days whose counts differ, newest first (reference utils.py:914-927)."""
    j = counts_joined(src_daily, trg_daily)
    return (
        j.filter(F.col("src_cnt") != F.col("trg_cnt"))
        .withColumn("diff", F.col("src_cnt") - F.col("trg_cnt"))
        .orderBy(F.desc("dt"))
    )


@dataclass
class CountStats:
    total_source: int
    total_target: int
    diff_sum: int
    common_sum: int
    diff_pct: float
    final_score: float
    mismatched_days: int


def check_counts_from_daily(src_daily: DataFrame, trg_daily: DataFrame) -> CountStats:
    """Score from PRE-AGGREGATED (dt, cnt) frames: pct = 100*diff/(diff+common)
    with diff=sum|s-t|, common=sum(min(s,t)) (reference core.py:402-419).
    The checker materializes each side's daily counts once (persist) and
    derives both the stats row and the discrepancy list from them, so each
    side's input is scanned exactly once per check."""
    j = counts_joined(src_daily, trg_daily)
    row = j.agg(
        F.coalesce(F.sum("src_cnt"), F.lit(0)).alias("ts"),
        F.coalesce(F.sum("trg_cnt"), F.lit(0)).alias("tt"),
        F.coalesce(F.sum(F.abs(F.col("src_cnt") - F.col("trg_cnt"))), F.lit(0)).alias("d"),
        F.coalesce(F.sum(F.least("src_cnt", "trg_cnt")), F.lit(0)).alias("c"),
        F.count(F.when(F.col("src_cnt") != F.col("trg_cnt"), 1)).alias("m"),
    ).collect()[0]
    denom = row["d"] + row["c"]
    pct = (row["d"] / denom * 100) if denom else 0.0
    return CountStats(
        int(row["ts"]), int(row["tt"]), int(row["d"]), int(row["c"]),
        pct, 100 - pct, int(row["m"]),
    )


DEFAULT_SESSION_GAP_S = 1800


def sessionize(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts",
    id_col: str = "event_id", gap_seconds: int = DEFAULT_SESSION_GAP_S,
) -> DataFrame:
    """Gap-based sessionization: a user's event starts a new session when
    the gap since their previous event exceeds ``gap_seconds``;
    ``session_seq`` is the user's running session number (1-based).

    One per-user window (lag + running sum over the same sort) — a single
    shuffle on user_id; per-user event counts are small, so no hot
    partition. Timestamps are truncated to epoch seconds so the gap
    arithmetic replays exactly in the DuckDB oracle (micros would compare
    float-ish across engines).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy("_tsec", id_col)
    # TIMESTAMP_NTZ has no direct long cast under ANSI; the intermediate
    # timestamp cast interprets the naive value in the session tz (UTC),
    # exactly DuckDB's epoch() semantics on naive timestamps
    tsec = F.col(ts_col).cast("timestamp").cast("long")
    gap = F.col("_tsec") - F.lag("_tsec").over(w)
    brk = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return (
        events.withColumn("_tsec", tsec)
        .withColumn("_brk", brk)
        .withColumn(
            "session_seq",
            F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop("_brk")
    )


def session_stats(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts",
    id_col: str = "event_id", gap_seconds: int = DEFAULT_SESSION_GAP_S,
) -> DataFrame:
    """(user_id, session_seq, n_events, session_start, session_end) —
    one row per session; start/end as epoch seconds."""
    s = sessionize(events, user_col, ts_col, id_col, gap_seconds)
    return s.groupBy(user_col, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("_tsec").alias("session_start"),
        F.max("_tsec").alias("session_end"),
    )


def count_anomalies(
    daily: DataFrame, window_days: int = 7, factor: int = 2, min_days: int = 3,
) -> DataFrame:
    """Daily-count anomaly flags: a day is anomalous when its count is more
    than ``factor``x above — or below 1/``factor`` of — the trailing
    ``window_days`` average (needs >= ``min_days`` of history).

    The comparison is pure INTEGER math (cnt * n vs factor * trailing_sum),
    so the DuckDB oracle replays it exactly — no float aggregation drift.
    Scale note: the trailing window is a GLOBAL sort over the daily-count
    frame, which is tiny by construction (one row per day); the heavy
    per-row work happened in the upstream groupBy.
    """
    from pyspark.sql.window import Window

    w = Window.orderBy("dt").rowsBetween(-window_days, -1)
    t = daily.select(
        "dt", "cnt",
        F.sum("cnt").over(w).alias("tsum"),
        F.count("cnt").over(w).alias("tn"),
    )
    is_anom = (F.col("tn") >= min_days) & (
        (F.col("cnt") * F.col("tn") > factor * F.col("tsum"))
        | (F.col("cnt") * F.col("tn") * factor < F.col("tsum"))
    )
    return t.withColumn("is_anomaly", is_anom)
