"""Counts + sniff golden tests (reference core.py:402-419, utils.py:192-303)."""

from datetime import date

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.operators.counts import (
    check_counts_from_daily,
    count_discrepancies,
    counts_joined,
    daily_counts,
)
from xoverrr_spark.operators.sniff import (
    drop_reason_breakdown,
    evaluate_sniff,
    sniff_histogram,
)


def test_counts_identical(spark):
    rows = [(i, date(2024, 1, 1 + i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, "id int, d date")
    stats = check_counts_from_daily(daily_counts(df, "d"), daily_counts(df, "d"))
    assert stats.final_score == 100
    assert stats.mismatched_days == 0


def test_counts_cross_fill_and_score(spark):
    # src: day1=2, day2=3; trg: day2=3, day3=1
    src = spark.createDataFrame(
        [(1, date(2024, 1, 1)), (2, date(2024, 1, 1)), (3, date(2024, 1, 2)),
         (4, date(2024, 1, 2)), (5, date(2024, 1, 2))], "id int, d date")
    trg = spark.createDataFrame(
        [(3, date(2024, 1, 2)), (4, date(2024, 1, 2)), (5, date(2024, 1, 2)),
         (6, date(2024, 1, 3))], "id int, d date")
    j = counts_joined(daily_counts(src, "d"), daily_counts(trg, "d")).orderBy("dt").collect()
    assert [(str(r["dt"]), r["src_cnt"], r["trg_cnt"]) for r in j] == [
        ("2024-01-01", 2, 0), ("2024-01-02", 3, 3), ("2024-01-03", 0, 1)]
    stats = check_counts_from_daily(daily_counts(src, "d"), daily_counts(trg, "d"))
    # diff = |2-0| + 0 + |0-1| = 3 ; common = min sums = 0+3+0 = 3 -> 50%
    assert stats.diff_sum == 3 and stats.common_sum == 3
    assert stats.diff_pct == pytest.approx(50.0)
    disc = count_discrepancies(daily_counts(src, "d"), daily_counts(trg, "d")).collect()
    assert len(disc) == 2 and str(disc[0]["dt"]) == "2024-01-03"  # newest first


def test_sniff_row_level(spark):
    # 3 rows, 1 'n' => 33.3% issues (reference tests/unit/test_sniff_query.py:21-85)
    df = spark.createDataFrame(
        [(1, 10.0, "y"), (2, -5.0, "n"), (3, 7.0, "y")],
        "id int, amount double, xsniff_passed string")
    stats = evaluate_sniff(df)
    assert stats.total_rows == 3 and stats.issue_rows == 1
    assert stats.issue_rows_pct == pytest.approx(100 / 3)
    hist = {r["status_value"]: r["count"] for r in sniff_histogram(df).collect()}
    assert hist == {"y": 2, "n": 1}


def test_sniff_empty_scores_100(spark):
    df = spark.createDataFrame([], "id int, xsniff_passed string")
    stats = evaluate_sniff(df)
    assert stats.final_score == 100.0


def test_sniff_issues_only_scores_0(spark):
    df = spark.createDataFrame([(1, "n"), (2, "n")], "id int, xsniff_passed string")
    assert evaluate_sniff(df).final_score == 0.0


def test_sniff_missing_column_raises(spark):
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError):
        evaluate_sniff(df)


def test_drop_reason_breakdown(spark):
    df = spark.createDataFrame(
        [(1, ["too_short"]), (2, ["too_short", "toxic"]), (3, [])],
        "id int, drop_reasons array<string>")
    rows = [(r["reason"], r["issue_count"]) for r in drop_reason_breakdown(df).collect()]
    assert rows == [("too_short", 2), ("toxic", 1)]


def test_drop_reason_examples_capped(spark):
    from xoverrr_spark.operators.sniff import drop_reason_examples

    df = spark.createDataFrame(
        [(i, ["too_short"] if i < 7 else ["toxic"]) for i in range(10)],
        "image_id int, drop_reasons array<string>",
    )
    rows = drop_reason_examples(df, max_examples=3).collect()
    by_reason = {}
    for r in rows:
        by_reason.setdefault(r["reason"], []).append(r["example_key"])
    assert by_reason["too_short"] == [0, 1, 2]
    assert by_reason["toxic"] == [7, 8, 9]


def test_sessionize_gap_semantics(spark):
    from xoverrr_spark.operators.counts import session_stats, sessionize

    rows = [
        # user 1: two sessions (gap 3600s > 1800s between e2 and e3)
        (1, 1, "2024-01-01 10:00:00"),
        (2, 1, "2024-01-01 10:10:00"),
        (3, 1, "2024-01-01 11:20:00"),
        # user 2: one session, gap exactly 1800s is NOT a break (> only)
        (4, 2, "2024-01-01 09:00:00"),
        (5, 2, "2024-01-01 09:30:00"),
    ]
    df = spark.createDataFrame(rows, "event_id int, user_id int, ts_s string") \
        .withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts_s")) \
        .drop("ts_s")
    seq = {r["event_id"]: r["session_seq"] for r in sessionize(df).collect()}
    assert seq == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}
    stats = {(r["user_id"], r["session_seq"]): r["n_events"]
             for r in session_stats(df).collect()}
    assert stats == {(1, 1): 2, (1, 2): 1, (2, 1): 2}


def test_count_anomalies_integer_thresholds(spark):
    from xoverrr_spark.operators.counts import count_anomalies

    rows = [("2024-01-0%d" % d, c) for d, c in
            [(1, 100), (2, 100), (3, 100), (4, 100), (5, 300), (6, 100), (7, 40)]]
    daily = spark.createDataFrame(rows, "dt_s string, cnt long") \
        .selectExpr("CAST(dt_s AS DATE) AS dt", "cnt")
    got = {str(r["dt"]): r["is_anomaly"] for r in count_anomalies(daily).collect()}
    # first 3 days lack min_days history
    assert got["2024-01-01"] is False and got["2024-01-02"] is False
    assert got["2024-01-04"] is False          # 100 vs avg 100
    assert got["2024-01-05"] is True           # 300 > 2 * 100
    assert got["2024-01-06"] is False          # 100 within [70, 280]
    assert got["2024-01-07"] is True           # 40 * 2 < avg ~133


def test_sessionize_agrees_with_builtin_session_window(spark):
    """Our window-based sessionizer must carve the same sessions as
    Spark's built-in session_window aggregation (integer-second fixture,
    no gap exactly AT the threshold — the two specs differ only there:
    ours merges gap == threshold, the built-in's exclusive end splits)."""
    from datetime import datetime as dt, timedelta as td
    from pyspark.sql import functions as F
    from xoverrr_spark.operators.counts import sessionize

    rows, t = [], dt(2024, 1, 1)
    gaps = [0, 10, 50, 400, 20, 1000, 5, 5, 900, 30]  # threshold 300
    eid = 0
    for u in (1, 2):
        t = dt(2024, 1, 1)
        for g in gaps:
            t = t + td(seconds=g)
            rows.append((eid, u, t))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp")

    ours = (
        sessionize(ev, gap_seconds=300)
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n"), F.min("_tsec").alias("start"))
    )
    ours_set = {(r.user_id, r.start, r.n) for r in ours.collect()}

    builtin = (
        ev.groupBy(
            F.session_window(F.col("ts"), "300 seconds").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("start"),
            "n",
        )
    )
    builtin_set = {(r.user_id, r.start, r.n) for r in builtin.collect()}
    assert ours_set == builtin_set and len(ours_set) == 8
