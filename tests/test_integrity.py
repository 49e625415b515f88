"""Round-5 check families: referential integrity (seventh — fk_orphans
operator semantics: ANSI null-FK handling, composite/renamed keys,
broadcast plan) and source freshness (eighth — SLA lag scoring, unknown-
staleness failure, future-timestamp flag), plus the facades'
scoring/report/audit/error paths."""

import json

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.checker import QualityChecker
from xoverrr_spark.operators.integrity import fk_orphans


def _frames(spark):
    child = spark.createDataFrame(
        [
            (1, 10, "a"),
            (2, 11, "b"),
            (3, 99, "orphan"),      # no parent 99
            (4, None, "null-fk"),   # ANSI: satisfies the constraint
            (5, 98, "orphan2"),
            (6, 10, "a2"),
        ],
        "row_id int, cust int, payload string",
    )
    parent = spark.createDataFrame(
        [(10, "p"), (11, "q"), (12, "unreferenced")], "ckey int, name string"
    )
    return child, parent


def test_fk_orphans_semantics_and_null_exclusion(spark):
    child, parent = _frames(spark)
    got = fk_orphans(child, parent, [("cust", "ckey")])
    rows = sorted((r.row_id, r.cust) for r in got.collect())
    assert rows == [(3, 99), (5, 98)]  # null-fk row 4 is NOT an orphan
    # full child rows ride through (example projection needs no rescan)
    assert set(got.columns) == {"row_id", "cust", "payload"}


def test_fk_orphans_composite_and_same_name_keys(spark):
    child = spark.createDataFrame(
        [(1, "x", 1), (1, "y", 2), (2, "x", 3), (None, "x", 4)],
        "k1 int, k2 string, v int",
    )
    parent = spark.createDataFrame([(1, "x"), (2, "x")], "k1 int, k2 string")
    got = fk_orphans(child, parent, ["k1", "k2"])  # same-name form
    # composite null rule: NULL in ANY key column exempts the row
    assert [r.v for r in got.collect()] == [2]  # (1,'y') orphan; null-k1 exempt


def test_fk_orphans_broadcast_parent_plan(spark):
    child, parent = _frames(spark)
    plan = fk_orphans(
        child, parent, [("cust", "ckey")], broadcast_parent=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan, plan


def test_fk_orphans_validates_columns(spark):
    child, parent = _frames(spark)
    with pytest.raises(ValueError, match="nope"):
        fk_orphans(child, parent, [("nope", "ckey")])
    with pytest.raises(ValueError, match="at least one"):
        fk_orphans(child, parent, [])


def test_check_referential_scores_reports_and_persists(spark, tmp_path):
    child, parent = _frames(spark)
    child.createOrReplaceTempView("ri_child")
    parent.createOrReplaceTempView("ri_parent")
    results = str(tmp_path / "results")
    qc = QualityChecker(spark, results_table=results)

    status, report, stats, details = qc.check_referential(
        "ri_child", "ri_parent", [("cust", "ckey")]
    )
    assert status == "failed"
    # 2 orphans / 5 scored (6 rows - 1 null fk) = 40%
    assert stats == {
        "n_rows": 6,
        "null_fk_rows": 1,
        "orphan_count": 2,
        "orphan_pct": 40.0,
        "final_score": 60.0,
    }
    # examples are distinct orphan KEY tuples, smallest first (the
    # source_only_keys_examples convention), not full child rows
    assert details == [{"cust": 98}, {"cust": 99}]
    assert "orphans: 2" in report and "null-fk rows (not scored, ANSI): 1" in report

    # tolerance turns the same data green
    status2, _, _, _ = qc.check_referential(
        "ri_child", "ri_parent", [("cust", "ckey")], tolerance_pct=40.0
    )
    assert status2 == "success"

    audit = spark.read.parquet(results).filter("check_type = 'referential'")
    assert audit.count() == 2
    row = audit.filter("status = 'failed'").collect()[0]
    assert row["stats_final_score"] == 60.0
    assert json.loads(row["details_issue_breakdown_json"]) == [["cust->ckey", 2]]
    exs = json.loads(row["details_source_only_keys_examples_json"])
    assert exs == [[98], [99]]


def test_check_referential_empty_child_passes_and_json(spark, tmp_path):
    child, parent = _frames(spark)
    child.where(F.lit(False)).createOrReplaceTempView("ri_empty")
    parent.createOrReplaceTempView("ri_parent2")
    qc = QualityChecker(spark)

    status, report, stats, _ = qc.check_referential(
        "ri_empty", "ri_parent2", [("cust", "ckey")]
    )
    # vacuous constraint: nothing violates it (unlike check_sequence,
    # where an empty extract IS the failure) — report says so
    assert status == "success" and stats["orphan_count"] == 0
    assert "empty child table" in report

    _, jreport, _, _ = qc.check_referential(
        "ri_empty", "ri_parent2", [("cust", "ckey")],
        report_output_format="json",
    )
    payload = json.loads(jreport)
    assert payload["check_type"] == "referential"
    assert payload["stats"]["final_score"] == 100.0


def test_check_referential_all_null_fk_warns_in_report(spark):
    child, parent = _frames(spark)
    qc = QualityChecker(spark)
    allnull = child.withColumn("cust", F.lit(None).cast("int"))
    status, report, stats, _ = qc.check_referential(
        allnull, parent, [("cust", "ckey")]
    )
    # ANSI says this passes — but the report flags the silent-null feed
    assert status == "success" and stats["null_fk_rows"] == 6
    assert "ALL fk values are null" in report


def test_check_referential_error_wraps_to_failed(spark, tmp_path):
    child, parent = _frames(spark)
    results = str(tmp_path / "results")
    qc = QualityChecker(spark, results_table=results)
    status, report, stats, details = qc.check_referential(
        child, parent, [("no_such", "ckey")]
    )
    assert status == "failed" and stats is None and details is None
    assert "no such child column" in report
    audit = spark.read.parquet(results)
    assert audit.filter("check_type = 'referential'").count() == 1


def test_check_freshness_sla_paths(spark, tmp_path):
    """Eighth check type: source freshness vs a pinned as_of. Within-SLA
    passes; over-SLA fails with a proportional score; empty/all-null ts
    FAILS (staleness unknown != staleness zero); future max_ts passes
    but is flagged."""
    rows = spark.createDataFrame(
        [(1, "2024-01-31 22:00:00"), (2, "2024-01-30 00:00:00"), (3, None)],
        "id int, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    rows.createOrReplaceTempView("fresh_t")
    results = str(tmp_path / "results")
    qc = QualityChecker(spark, results_table=results)
    as_of = "2024-02-01 00:00:00"

    status, report, stats, details = qc.check_freshness(
        "fresh_t", "ts", max_lag_hours=3.0, as_of=as_of)
    assert status == "success"
    assert stats["lag_seconds"] == 2 * 3600 and stats["final_score"] == 100.0
    assert stats["null_ts_rows"] == 1 and details[0]["sla_seconds"] == 10800

    # 2h lag against a 1h SLA: 100% over -> score 0, failed
    status2, _, stats2, _ = qc.check_freshness(
        "fresh_t", "ts", max_lag_hours=1.0, as_of=as_of)
    assert status2 == "failed"
    assert stats2["over_sla_pct"] == 100.0 and stats2["final_score"] == 0.0

    # staleness unknown fails
    rows.where("ts IS NULL").createOrReplaceTempView("fresh_null")
    status3, report3, stats3, _ = qc.check_freshness(
        "fresh_null", "ts", max_lag_hours=1.0, as_of=as_of)
    assert status3 == "failed" and stats3["lag_seconds"] is None
    assert "staleness UNKNOWN" in report3

    # future max_ts: passes, flagged
    status4, report4, stats4, _ = qc.check_freshness(
        "fresh_t", "ts", max_lag_hours=1.0, as_of="2024-01-31 00:00:00")
    assert status4 == "success" and stats4["lag_seconds"] < 0
    assert "FUTURE" in report4

    # malformed call raises (not a failed check); bad column wraps FAILED
    with pytest.raises(ValueError):
        qc.check_freshness("fresh_t", "ts", max_lag_hours=0)
    status5, report5, _, _ = qc.check_freshness(
        "fresh_t", "nope", max_lag_hours=1.0, as_of=as_of)
    assert status5 == "failed" and "no such column" in report5

    audit = spark.read.parquet(results).filter("check_type = 'freshness'")
    assert audit.count() == 5
    assert audit.filter("status = 'failed'").count() == 3

    # default as_of = now(): lag vs 2024 data is huge -> failed; and the
    # JSON envelope carries the stats block
    status6, jreport, stats6, _ = qc.check_freshness(
        "fresh_t", "ts", max_lag_hours=24.0, report_output_format="json")
    assert status6 == "failed"
    payload = json.loads(jreport)
    assert payload["check_type"] == "freshness"
    assert payload["stats"]["lag_seconds"] > 365 * 24 * 3600


def test_check_referential_example_cap_and_determinism(spark):
    child = spark.range(100).select(
        F.col("id").alias("row_id"), (F.col("id") + 1000).alias("cust")
    )
    parent = spark.createDataFrame([(1, "p")], "ckey int, name string")
    qc = QualityChecker(spark)
    _, _, stats, details = qc.check_referential(
        child, parent, [("cust", "ckey")], max_examples=7
    )
    assert stats["orphan_count"] == 100 and len(details) == 7
    # deterministic: smallest keys first
    assert [d["cust"] for d in details] == list(range(1000, 1007))


def test_check_referential_date_scoping_child_only(spark):
    """date_column/date_range scope the CHILD side only — the recurring
    'yesterday's partitions vs the full parent' audit; scoping the
    parent would fabricate orphans."""
    child = spark.createDataFrame(
        [(1, 10, "2024-01-01"), (2, 99, "2024-01-01"), (3, 99, "2024-01-05")],
        "row_id int, cust int, d string",
    ).select("row_id", "cust", F.col("d").cast("date").alias("d"))
    parent = spark.createDataFrame([(10, "p")], "ckey int, name string")
    qc = QualityChecker(spark)
    _, _, stats, details = qc.check_referential(
        child, parent, [("cust", "ckey")],
        date_column="d", date_range=("2024-01-01", "2024-01-02"))
    # only the two Jan-1 rows are scored; the Jan-5 orphan is out of scope
    assert stats["n_rows"] == 2 and stats["orphan_count"] == 1
    assert details == [{"cust": 99}]


def test_check_freshness_grouped_catches_dead_source(spark, tmp_path):
    """Per-group freshness: one dead source among healthy ones passes the
    GLOBAL check (the gap) and fails the grouped one, with the stalest
    groups localized; null group keys form their own group; empty input
    fails."""
    rows = spark.createDataFrame(
        [
            ("a", "2024-01-31 23:00:00"),
            ("a", "2024-01-31 20:00:00"),
            ("b", "2024-01-20 00:00:00"),   # dead since Jan 20
            (None, "2024-01-31 22:00:00"),  # null-source feed: own group
        ],
        "src string, ts_s string",
    ).select("src", F.col("ts_s").cast("timestamp").alias("ts"))
    rows.createOrReplaceTempView("gfresh")
    results = str(tmp_path / "results")
    qc = QualityChecker(spark, results_table=results)
    as_of = "2024-02-01 00:00:00"

    # the global check is blind to the dead source
    g_status, _, g_stats, _ = qc.check_freshness(
        "gfresh", "ts", max_lag_hours=24.0, as_of=as_of)
    assert g_status == "success" and g_stats["lag_seconds"] == 3600

    status, report, stats, details = qc.check_freshness(
        "gfresh", "ts", max_lag_hours=24.0, as_of=as_of, group_by=["src"])
    assert status == "failed"
    assert stats["n_groups"] == 3 and stats["stale_groups"] == 1
    assert stats["worst_lag_seconds"] == 12 * 86400
    assert stats["final_score"] == 0.0  # 12 days over a 1-day SLA
    # stalest group first, localized
    assert details[0]["src"] == "b" and details[0]["lag_seconds"] == 12 * 86400
    assert "[src=b]" in report
    # the null-source feed is its own (fresh) group
    assert any(d["src"] is None and d["lag_seconds"] == 7200 for d in details)

    # all groups fresh -> success
    ok_status, _, ok_stats, _ = qc.check_freshness(
        "gfresh", "ts", max_lag_hours=24.0 * 15, as_of=as_of,
        group_by=["src"])
    assert ok_status == "success" and ok_stats["stale_groups"] == 0

    # empty table: zero groups, staleness unknown, fails
    rows.where(F.lit(False)).createOrReplaceTempView("gfresh_empty")
    e_status, e_report, e_stats, _ = qc.check_freshness(
        "gfresh_empty", "ts", max_lag_hours=1.0, as_of=as_of,
        group_by=["src"])
    assert e_status == "failed" and e_stats["n_groups"] == 0
    assert "no groups" in e_report

    # bad group column wraps to FAILED; empty group_by raises (bad CALL)
    b_status, b_report, _, _ = qc.check_freshness(
        "gfresh", "ts", max_lag_hours=1.0, as_of=as_of, group_by=["nope"])
    assert b_status == "failed" and "nope" in b_report
    with pytest.raises(ValueError, match="group_by"):
        qc.check_freshness("gfresh", "ts", max_lag_hours=1.0, group_by=[])

    # five persisted runs (the empty-group_by ValueError is a malformed
    # CALL — raises before the try, no audit row by design)
    audit = spark.read.parquet(results).filter("check_type = 'freshness'")
    assert audit.count() == 5
