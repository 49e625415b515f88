"""Public API facade tests: the four check methods end-to-end."""

import json

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.checker import QualityChecker


@pytest.fixture(scope="module")
def checker(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("results")
    return QualityChecker(spark, results_table=str(out / "runs"))


@pytest.fixture(scope="module")
def views(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.createOrReplaceTempView("api_orders")
    orders.filter(F.col("o_orderkey") % 50 != 0).createOrReplaceTempView("api_orders_trg")
    return True


def test_check_samples_identical(checker, views):
    status, report, stats, details = checker.check_samples(
        "api_orders", "api_orders", custom_primary_key=["o_orderkey"]
    )
    assert status == "success"
    assert stats.final_score == 100
    assert "final score: 100.00000" in report


def test_check_samples_with_diffs_and_tolerance(checker, views):
    status, report, stats, _ = checker.check_samples(
        "api_orders", "api_orders_trg", custom_primary_key=["o_orderkey"],
        tolerance_pct=5.0,
    )
    assert stats.only_source_rows > 0
    assert status == "success"  # 2% src-only * 0.15 < 5
    status2, _, stats2, _ = checker.check_samples(
        "api_orders", "api_orders_trg", custom_primary_key=["o_orderkey"],
        tolerance_pct=0.0,
    )
    assert status2 == "failed"


def test_check_samples_json_format(checker, views):
    status, report, stats, _ = checker.check_samples(
        "api_orders", "api_orders", custom_primary_key=["o_orderkey"],
        report_output_format="json",
    )
    payload = json.loads(report)
    assert payload["status"] == "success"
    assert payload["stats"]["final_score"] == 100


def test_check_samples_requires_pk(checker, views):
    status, report, stats, details = checker.check_samples("api_orders", "api_orders")
    assert status == "failed" and "custom_primary_key" in report


def test_check_samples_date_range(checker, views, spark, sf_dir):
    status, _, stats, _ = checker.check_samples(
        "api_orders", "api_orders", custom_primary_key=["o_orderkey"],
        date_column="o_orderdate", date_range=("1995-01-01", "1995-12-31"),
    )
    assert status == "success"
    total = spark.sql(
        "SELECT count(*) c FROM api_orders WHERE o_orderdate >= '1995-01-01' "
        "AND o_orderdate < '1996-01-01'"
    ).collect()[0]["c"]
    assert stats.total_source_rows == total


def test_check_counts(checker, views):
    status, report, cstats, disc = checker.check_counts(
        "api_orders", "api_orders_trg", date_column="o_orderdate", tolerance_pct=3.0
    )
    assert status == "success"
    assert cstats.total_source > cstats.total_target


def test_check_custom_queries(checker, views):
    status, report, stats, _ = checker.check_custom_queries(
        "SELECT o_orderkey, o_totalprice FROM api_orders WHERE o_orderkey % 10 = 0",
        "SELECT o_orderkey, o_totalprice * 1.0 AS o_totalprice FROM api_orders WHERE o_orderkey % 10 = 0",
        custom_primary_key=["o_orderkey"],
    )
    assert status == "success"  # 5.0 == 5 canonicalization


def test_check_sniff_query(checker, views):
    status, report, stats, examples = checker.check_sniff_query(
        "SELECT o_orderkey, CASE WHEN o_totalprice > 0 THEN 'y' ELSE 'n' END AS xsniff_passed "
        "FROM api_orders"
    )
    assert status == "success" and stats.final_score == 100.0


def test_sniff_query_missing_flag_fails(checker, views):
    status, report, *_ = checker.check_sniff_query("SELECT o_orderkey FROM api_orders")
    assert status == "failed" and "xsniff_passed" in report


def test_recent_exclusion(checker, spark):
    src = spark.createDataFrame(
        [(1, "a", "n"), (2, "b", "y"), (3, "c", "n")],
        "id int, v string, xrecently_changed string",
    )
    trg = spark.createDataFrame(
        [(1, "a", "n"), (2, "XX", "n"), (3, "c", "y")],
        "id int, v string, xrecently_changed string",
    )
    src.createOrReplaceTempView("api_recent_src")
    trg.createOrReplaceTempView("api_recent_trg")
    status, _, stats, _ = checker.check_samples(
        "api_recent_src", "api_recent_trg", custom_primary_key=["id"]
    )
    # keys 2 and 3 are flagged on either side -> excluded from BOTH
    assert stats.comparable_rows == 1 and stats.passed_rows == 1
    assert status == "success"


def test_results_persisted(checker, spark):
    runs = spark.read.parquet(checker.results_table)
    assert runs.count() >= 5
    assert {"run_id", "check_type", "status", "stats_final_score"} <= set(runs.columns)


def test_audit_record_full_shape(checker, spark, views):
    """Audit-row parity with the reference's persisted record (reference
    persistence.py:290-317; column inventory mirrored from
    tests/unit/test_persistence.py): base + timings + stats_* + details_*_json."""
    import json as _json

    from xoverrr_spark.persistence import (
        AUDIT_COLUMNS,
        DETAILS_JSON_FIELDS,
        STATS_FLOAT_FIELDS,
        STATS_INT_FIELDS,
        TIMING_FIELDS,
    )

    status, _, stats, details = checker.check_samples(
        "api_orders", "api_orders_trg", custom_primary_key=["o_orderkey"],
        check_name="audit_shape_probe",
    )
    runs = spark.read.parquet(checker.results_table)
    assert set(runs.columns) == set(AUDIT_COLUMNS)
    # 19 base (run_id + 8 timings + 10 metadata) + 8 stats ints
    # + 9 stats floats + 9 details_json = 45 columns (r5 adds the
    # skipped_source/target_columns details the reference also persists)
    assert len(AUDIT_COLUMNS) == 45
    row = runs.filter("check_name = 'audit_shape_probe'") \
              .orderBy("run_started_at").collect()[-1].asDict()
    # every stats_* numeric persisted, floats rounded to 5dp (persistence.py:35-38)
    for f in STATS_INT_FIELDS:
        assert row[f"stats_{f}"] == getattr(stats, f)
    for f in STATS_FLOAT_FIELDS:
        assert row[f"stats_{f}"] == round(float(getattr(stats, f)), 5)
    # details_*_json round-trips
    for f in DETAILS_JSON_FIELDS:
        assert row[f"details_{f}_json"] is not None
        _json.loads(row[f"details_{f}_json"])
    bd = _json.loads(row["details_issue_breakdown_json"])
    assert bd == [list(t) for t in details.issue_breakdown]
    # timings recorded (R2): all 8 marks non-null for a successful run
    for f in TIMING_FIELDS:
        assert row[f] is not None, f


def test_counts_and_sniff_persist_timings_and_score(checker, spark, views):
    checker.check_counts(
        "api_orders", "api_orders_trg", date_column="o_orderdate",
        tolerance_pct=3.0, check_name="counts_timing_probe",
    )
    checker.check_sniff_query(
        "SELECT o_orderkey, CASE WHEN o_totalprice > 0 THEN 'y' ELSE 'n' END AS xsniff_passed "
        "FROM api_orders",
        check_name="sniff_timing_probe",
    )
    runs = {r["check_name"]: r.asDict() for r in
            spark.read.parquet(checker.results_table)
            .filter("check_name LIKE '%_timing_probe'").collect()}
    for name in ("counts_timing_probe", "sniff_timing_probe"):
        row = runs[name]
        assert row["stats_final_score"] is not None
        assert row["dataset_check_started_at"] is not None
        assert row["dataset_check_finished_at"] is not None
        assert row["run_finished_at"] >= row["run_started_at"]
    assert runs["sniff_timing_probe"]["source_query"].startswith("SELECT o_orderkey")


def test_json_envelope_all_check_types(checker, views):
    q = ("SELECT o_orderkey, CASE WHEN o_totalprice > 0 THEN 'y' ELSE 'n' END "
         "AS xsniff_passed FROM api_orders")
    _, rep_counts, *_ = checker.check_counts(
        "api_orders", "api_orders_trg", date_column="o_orderdate",
        tolerance_pct=3.0, report_output_format="json",
    )
    _, rep_sniff, *_ = checker.check_sniff_query(q, report_output_format="json")
    _, rep_custom, *_ = checker.check_custom_queries(
        "SELECT o_orderkey, o_totalprice FROM api_orders WHERE o_orderkey % 10 = 0",
        "SELECT o_orderkey, o_totalprice FROM api_orders WHERE o_orderkey % 10 = 0",
        custom_primary_key=["o_orderkey"], report_output_format="json",
    )
    for rep, ctype in ((rep_counts, "counts"), (rep_sniff, "sniff_query"),
                       (rep_custom, "custom_queries")):
        payload = json.loads(rep)
        assert payload["check_type"] == ctype
        assert payload["status"] == "success"
        assert payload["stats"]["final_score"] is not None
        assert payload["report"]  # embedded text report (reference CheckResult.report)


def test_invalid_report_format_fails(checker, views):
    status, report, *_ = checker.check_samples(
        "api_orders", "api_orders", custom_primary_key=["o_orderkey"],
        report_output_format="xml",
    )
    assert status == "failed" and "report_output_format" in report


def test_custom_queries_named_bind_params(checker, views):
    status, _, stats, _ = checker.check_custom_queries(
        "SELECT o_orderkey, o_totalprice FROM api_orders WHERE o_orderkey <= :maxkey",
        "SELECT o_orderkey, o_totalprice FROM api_orders WHERE o_orderkey <= :maxkey",
        custom_primary_key=["o_orderkey"],
        source_params={"maxkey": 1000}, target_params={"maxkey": 1000},
    )
    assert status == "success"
    assert 0 < stats.total_source_rows == stats.total_target_rows


def test_sniff_named_bind_params(checker, views):
    status, _, stats, _ = checker.check_sniff_query(
        "SELECT o_orderkey, CASE WHEN o_totalprice > :floor THEN 'y' ELSE 'n' END "
        "AS xsniff_passed FROM api_orders",
        params={"floor": 0},
    )
    assert status == "success" and stats.final_score == 100.0


def test_custom_queries_chunked_equals_unchunked(checker, views):
    q_src = "SELECT o_orderkey, o_orderdate, o_totalprice FROM api_orders"
    q_trg = "SELECT o_orderkey, o_orderdate, o_totalprice FROM api_orders_trg"
    kw = dict(
        custom_primary_key=["o_orderkey"], date_column="o_orderdate",
        date_range=("1995-01-01", "1995-06-30"),
    )
    _, _, whole, _ = checker.check_custom_queries(q_src, q_trg, **kw)
    _, _, chunked, _ = checker.check_custom_queries(
        q_src, q_trg, chunk_size_days=45, **kw)
    assert chunked.total_source_rows == whole.total_source_rows
    assert chunked.passed_rows == whole.passed_rows
    assert chunked.final_diff_score == pytest.approx(whole.final_diff_score)


def test_sniff_chunked_equals_unchunked(checker, views):
    q = ("SELECT o_orderkey, o_orderdate, CASE WHEN o_orderkey % 100 = 0 THEN 'n' "
         "ELSE 'y' END AS xsniff_passed FROM api_orders")
    kw = dict(date_column="o_orderdate", date_range=("1995-01-01", "1995-06-30"),
              tolerance_pct=5.0)
    _, _, whole, _ = checker.check_sniff_query(q, **kw)
    _, _, chunked, _ = checker.check_sniff_query(q, chunk_size_days=45, **kw)
    assert chunked.total_rows == whole.total_rows
    assert chunked.issue_rows == whole.issue_rows
    assert chunked.final_score == pytest.approx(whole.final_score)


def test_session_stats_and_quote_ident(checker, views):
    from xoverrr_spark.checker import quote_ident

    before = checker.session_stats["checked"]
    checker.check_samples("api_orders", "api_orders", custom_primary_key=["o_orderkey"])
    assert checker.session_stats["checked"] == before + 1
    assert checker.session_stats["success"] >= 1
    assert "api_orders" in checker.session_stats["tables"]
    assert quote_ident("date") == "`date`"
    assert quote_ident("o_orderkey") == "o_orderkey"


def test_zero_row_schema_probe_runs_no_job(spark, views):
    # S7: schema resolution is pure analysis — no Spark job executes
    sc = spark.sparkContext
    sc.setJobGroup("schema_probe", "schema probe must not launch jobs")
    try:
        schema = spark.sql(
            "SELECT o_orderkey, o_totalprice FROM api_orders").schema
    finally:
        sc.setJobGroup("schema_probe_done", "")
    assert [f.name for f in schema.fields] == ["o_orderkey", "o_totalprice"]
    assert list(sc.statusTracker().getJobIdsForGroup("schema_probe")) == []


def test_invalid_table_identifier_rejected(checker):
    # P9: the identifier guard wraps into a FAILED result, never reaches SQL
    status, report, *_ = checker.check_samples(
        "orders; DROP TABLE x", "orders", custom_primary_key=["o_orderkey"])
    assert status == "failed" and "identifier" in report


def test_sniff_empty_result_skipped(checker, views):
    status, report, stats, examples = checker.check_sniff_query(
        "SELECT o_orderkey, 'y' AS xsniff_passed FROM api_orders WHERE o_orderkey < 0"
    )
    assert status == "skipped" and stats.total_rows == 0 and examples == []


# ----------------------------------------------------------- round 3 ----

def test_failed_runs_persist_audit_rows_all_check_types(spark, tmp_path_factory, views):
    # reference persists an audit row for EVERY outcome incl. failures
    # (core.py:174-191); r2 covered check_samples only (VERDICT r02)
    out = tmp_path_factory.mktemp("failed_runs")
    ck = QualityChecker(spark, results_table=str(out / "runs"))
    s1, *_ = ck.check_counts("api_orders", "api_orders_trg")  # no date_column
    s2, *_ = ck.check_custom_queries(
        "SELECT definitely_not_a_column FROM api_orders",
        "SELECT o_orderkey FROM api_orders",
        ["o_orderkey"],
    )
    s3, *_ = ck.check_sniff_query("SELECT no_such_column FROM api_orders")
    assert s1 == s2 == s3 == "failed"
    rows = spark.read.parquet(ck.results_table).collect()
    by_type = {r["check_type"] for r in rows}
    assert by_type == {"counts", "custom_queries", "sniff_query"}
    for r in rows:
        assert r["status"] == "failed"
        assert "check failed with error" in r["report"]
        assert r["run_started_at"] and r["run_finished_at"]


def test_skipped_runs_persist_audit_rows(spark, tmp_path_factory, views):
    # ADVICE r02: skipped runs must leave an audit trail too
    out = tmp_path_factory.mktemp("skipped_runs")
    ck = QualityChecker(spark, results_table=str(out / "runs"))
    s1, r1, *_ = ck.check_counts(
        "api_orders", "api_orders", date_column="o_orderdate",
        date_range=("2199-01-01", "2199-01-02"), report_output_format="json",
    )
    s2, r2, *_ = ck.check_sniff_query(
        "SELECT o_orderkey, 'y' AS xsniff_passed FROM api_orders WHERE o_orderkey < 0",
        report_output_format="json",
    )
    assert s1 == s2 == "skipped"
    rows = spark.read.parquet(ck.results_table).collect()
    assert {(r["check_type"], r["status"]) for r in rows} == {
        ("counts", "skipped"), ("sniff_query", "skipped"),
    }
    for r in rows:
        assert r["run_started_at"] and r["run_finished_at"]
        assert r["dataset_check_finished_at"]
    # a SKIPPED outcome honors the requested format like any other; the
    # audit row keeps the text report
    for rep, ctype, text in ((r1, "counts", "both sides empty"),
                             (r2, "sniff_query", "sniff query returned no rows")):
        payload = json.loads(rep)
        assert payload["check_type"] == ctype and payload["status"] == "skipped"
        assert payload["report"] == text
    assert {r["report"] for r in rows} == {
        "both sides empty", "sniff query returned no rows"}


def test_counts_per_side_query_timings_are_real(spark, tmp_path_factory, views):
    # VERDICT r02: check_counts' per-side query spans wrap the actual
    # daily-count materialization (persist + count), not lazy plan building
    out = tmp_path_factory.mktemp("counts_timings")
    ck = QualityChecker(spark, results_table=str(out / "runs"))
    status, *_ = ck.check_counts(
        "api_orders", "api_orders_trg", date_column="o_orderdate"
    )
    assert status in ("success", "failed")
    row = spark.read.parquet(ck.results_table).collect()[0]
    for f in (
        "source_query_started_at", "source_query_finished_at",
        "target_query_started_at", "target_query_finished_at",
        "dataset_check_started_at", "dataset_check_finished_at",
    ):
        assert row[f], f


def test_zero_row_schema_probe_invalid_sql_clean_error(spark, views):
    # S7 negative path: analysis rejects bad SQL cleanly, still zero jobs
    from pyspark.errors import AnalysisException

    sc = spark.sparkContext
    sc.setJobGroup("schema_probe_neg", "schema probe must not launch jobs")
    try:
        with pytest.raises(AnalysisException):
            spark.sql("SELECT not_a_column FROM api_orders").schema
    finally:
        sc.setJobGroup("schema_probe_neg_done", "")
    assert list(sc.statusTracker().getJobIdsForGroup("schema_probe_neg")) == []


def test_structured_logging_emits_run_record(checker, views, caplog):
    # R8: every run, FAILED ones included, logs exactly one line carrying
    # run_id + status + final_score for correlation
    import logging
    import re

    with caplog.at_level(logging.INFO, logger="xoverrr_spark.checker"):
        status, *_ = checker.check_samples(
            "api_orders", "api_orders", custom_primary_key=["o_orderkey"]
        )
        status2, *_ = checker.check_sniff_query(
            "SELECT o_orderkey, 'y' AS xsniff_passed FROM api_orders"
        )
        status3, *_ = checker.check_counts("api_orders", "api_orders_trg")
    assert (status, status2, status3) == ("success", "success", "failed")
    msgs = [r.getMessage() for r in caplog.records if r.name == "xoverrr_spark.checker"]
    pattern = r"^check_{} run_id=[0-9a-f]{{16}} status={} final_score={}$"
    for ctype, st, score in (("samples", "success", "100.0"),
                             ("sniff_query", "success", "100.0"),
                             ("counts", "failed", "None")):
        hits = [m for m in msgs if re.match(pattern.format(ctype, st, re.escape(score)), m)]
        assert len(hits) == 1, (ctype, msgs)
    assert len(msgs) == 3, msgs


def test_check_profile_drift_scores_and_persists(spark, tmp_path):
    from pyspark.sql import functions as F
    from xoverrr_spark.checker import QualityChecker

    src = spark.createDataFrame(
        [(i, f"v{i % 10}") for i in range(100)], "id bigint, v string")
    trg = src.filter("id % 2 = 0").withColumn(
        "v", F.when(F.col("id") % 4 == 0, None).otherwise(F.col("v")))
    src.createOrReplaceTempView("drift_src")
    trg.createOrReplaceTempView("drift_trg")
    results = str(tmp_path / "results")
    qc = QualityChecker(spark, results_table=results)

    status, report, stats, rows = qc.check_profile_drift(
        "drift_src", "drift_trg", tolerance_pct=5.0)
    assert status == "failed"                 # 50% row drop >> 5%
    assert stats["drift_pct"] >= 50.0
    assert {r["column_name"] for r in rows} == {"id", "v"}
    # identical sides pass
    status2, _, stats2, _ = qc.check_profile_drift(
        "drift_src", "drift_src", tolerance_pct=0.0)
    assert status2 == "success" and stats2["drift_pct"] == 0.0
    # both outcomes persisted as audit rows
    audit = spark.read.parquet(results)
    pd_rows = audit.filter("check_type = 'profile_drift'")
    assert pd_rows.count() == 2
    # JSON envelope honored for the fifth check type too
    import json
    _, jreport, _, _ = qc.check_profile_drift(
        "drift_src", "drift_src", report_output_format="json")
    payload = json.loads(jreport)
    assert payload["check_type"] == "profile_drift" and "stats" in payload


def test_check_profile_drift_failed_path_persists_audit_row(spark, tmp_path):
    """A thrown check (bad column) still leaves a failed audit row — the
    same contract as the other four check types."""
    from xoverrr_spark.checker import QualityChecker
    spark.createDataFrame([(1,)], "id bigint").createOrReplaceTempView("pd_one")
    results = str(tmp_path / "res")
    qc = QualityChecker(spark, results_table=results)
    status, report, stats, rows = qc.check_profile_drift(
        "pd_one", "pd_one", columns=["no_such_column"])
    assert status == "failed" and stats is None and "error" in report
    audit = spark.read.parquet(results)
    assert audit.filter("check_type = 'profile_drift' AND status = 'failed'").count() == 1


def test_check_profile_drift_catches_mean_shift_at_constant_counts(spark, tmp_path):
    """The histogram term: same row count, null rate, and distinct count,
    but the numeric distribution shifted — counters see nothing, the
    histogram TV distance flips the check to FAILED (r03 verdict item)."""
    import json

    from xoverrr_spark.checker import QualityChecker

    src = spark.createDataFrame(
        [(i, float(i)) for i in range(2000)], "id bigint, x double")
    trg = spark.createDataFrame(
        [(i, float(i) + 1000.0) for i in range(2000)], "id bigint, x double")
    src.createOrReplaceTempView("shift_src")
    trg.createOrReplaceTempView("shift_trg")
    results = str(tmp_path / "results")
    qc = QualityChecker(spark, results_table=results)

    status, report, stats, rows = qc.check_profile_drift(
        "shift_src", "shift_trg", tolerance_pct=10.0)
    assert status == "failed", report           # TV ~0.5 -> ~50% drift
    assert stats["drift_pct"] >= 40.0
    assert "hist_tv" in report
    # id is identical -> its histogram distance is ~0; only x drifts
    audit = spark.read.parquet(results).filter(
        "check_type = 'profile_drift'").collect()[0]
    tvs = {d["column_name"]: d["hist_tv"]
           for d in json.loads(audit["details_issue_examples_json"])}
    assert tvs["x"] >= 0.4 and tvs["id"] <= 0.01, tvs
    breakdown = json.loads(audit["details_issue_breakdown_json"])
    assert {b[0] for b in breakdown} == {"id", "x"}

    # the same distribution passes at the same tolerance
    status2, _, stats2, _ = qc.check_profile_drift(
        "shift_src", "shift_src", tolerance_pct=10.0)
    assert status2 == "success" and stats2["drift_pct"] == 0.0


def test_check_sequence_localizes_gaps_and_persists(spark, tmp_path):
    """Sixth check type: key-sequence completeness. Engineered holes
    (%97 removed + a 500-key block) flip it to FAILED and the report +
    audit row localize the exact missing intervals a backfill needs."""
    import json

    from pyspark.sql import functions as F
    from xoverrr_spark.checker import QualityChecker

    spark.range(10000).select(F.col("id").alias("k")).filter(
        (F.col("k") % 97 != 0) & ~F.col("k").between(4000, 4499)
    ).createOrReplaceTempView("seq_holes")
    spark.range(10000).select(F.col("id").alias("k")).createOrReplaceTempView(
        "seq_full")
    results = str(tmp_path / "results")
    qc = QualityChecker(spark, results_table=results)

    status, report, stats, top = qc.check_sequence(
        "seq_holes", "k", tolerance_pct=1.0)
    assert status == "failed"                      # ~6% missing >> 1%
    assert stats["missing_total"] == 103 + 500 - 5  # %97 holes + block (5 overlap)
    assert stats["gap_count"] > 90
    # the big block is the top gap, localized exactly
    assert top[0]["gap_start"] == 4000 and top[0]["gap_end"] == 4499
    assert "gap [4000, 4499] missing 500" in report

    status2, _, stats2, _ = qc.check_sequence("seq_full", "k")
    assert status2 == "success" and stats2["missing_pct"] == 0.0

    audit = spark.read.parquet(results).filter("check_type = 'sequence'")
    assert audit.count() == 2
    row = audit.filter("status = 'failed'").collect()[0]
    breakdown = json.loads(row["details_issue_breakdown_json"])
    assert ["4000-4499", 500] in breakdown

    # JSON envelope + failed path
    _, jreport, _, _ = qc.check_sequence(
        "seq_full", "k", report_output_format="json")
    payload = json.loads(jreport)
    assert payload["check_type"] == "sequence" and "stats" in payload
    status3, report3, stats3, _ = qc.check_sequence("seq_full", "no_such_col")
    assert status3 == "failed" and stats3 is None and "error" in report3
    assert spark.read.parquet(results).filter(
        "check_type = 'sequence' AND status = 'failed'").count() == 2


def test_check_sequence_expected_bounds_catch_truncation_and_empty(spark, tmp_path):
    """r4 ADVICE: observed-span scoring is blind to head/tail truncation
    and vacuously passes an empty extract. expected_min/expected_max turn
    boundary truncation into explicit gaps; zero non-null keys FAILS."""
    from pyspark.sql import functions as F
    from xoverrr_spark.checker import QualityChecker

    qc = QualityChecker(spark, results_table=str(tmp_path / "res_seq"))

    # extract dropped the first 100 and last 50 ids — observed span says 0
    spark.range(100, 950).select(F.col("id").alias("k")).createOrReplaceTempView(
        "seq_trunc")
    status0, _, stats0, _ = qc.check_sequence("seq_trunc", "k", tolerance_pct=1.0)
    assert status0 == "success" and stats0["missing_total"] == 0  # the blind spot

    status, report, stats, top = qc.check_sequence(
        "seq_trunc", "k", tolerance_pct=1.0, expected_min=0, expected_max=999)
    assert status == "failed"
    assert stats["missing_total"] == 150          # 100 head + 50 tail
    assert stats["missing_pct"] == 15.0           # over the EXPECTED span
    gaps = {(g["gap_start"], g["gap_end"]) for g in top}
    assert (0, 99) in gaps and (950, 999) in gaps
    assert "expected: [0, 999]" in report

    # empty extract: fails either way, 100% missing with bounds
    spark.range(0).select(F.col("id").alias("k")).createOrReplaceTempView(
        "seq_empty")
    se, rep_e, st_e, top_e = qc.check_sequence(
        "seq_empty", "k", expected_min=0, expected_max=9)
    assert se == "failed" and st_e["missing_pct"] == 100.0
    assert st_e["missing_total"] == 10
    assert top_e[-1]["gap_start"] == 0 and top_e[-1]["gap_end"] == 9
    se2, rep2, st2, _ = qc.check_sequence("seq_empty", "k")
    assert se2 == "failed" and st2["missing_pct"] == 100.0
    assert "empty extract" in rep2

    # all-null keys behave like empty
    spark.createDataFrame([(None,), (None,)], "k bigint").createOrReplaceTempView(
        "seq_nulls")
    se3, _, st3, _ = qc.check_sequence("seq_nulls", "k")
    assert se3 == "failed" and st3["null_keys"] == 2

    import pytest
    with pytest.raises(ValueError, match="expected_min"):
        qc.check_sequence("seq_trunc", "k", expected_min=5, expected_max=1)


def test_check_sequence_out_of_range_keys_not_scored(spark, tmp_path):
    """Stragglers OUTSIDE [expected_min, expected_max] must not poison the
    sequence math: without the window clamp, ids above expected_max
    manufacture a phantom gap from the window edge to the straggler and
    fail a complete extract. They're excluded and reported instead."""
    from pyspark.sql import functions as F
    from xoverrr_spark.checker import QualityChecker

    qc = QualityChecker(spark, results_table=str(tmp_path / "res_oor"))

    # complete [0, 999] window + 5 stragglers at 5000.. and 2 below zero
    spark.range(1000).select(F.col("id").alias("k")).union(
        spark.range(5000, 5005).select(F.col("id").alias("k"))
    ).union(
        spark.range(-2, 0).select(F.col("id").alias("k"))
    ).createOrReplaceTempView("seq_straggler")

    status, report, stats, top = qc.check_sequence(
        "seq_straggler", "k", tolerance_pct=0.0,
        expected_min=0, expected_max=999)
    assert status == "success"                 # window itself is complete
    assert stats["missing_total"] == 0 and stats["missing_pct"] == 0.0
    assert stats["out_of_range_keys"] == 7     # 5 above + 2 below
    assert stats["n_keys"] == 1007             # raw count still reported
    assert "out-of-range keys" in report and "7" in report

    # ALL keys outside the window: cannot vacuously pass — whole span missing
    se, rep, st, tp = qc.check_sequence(
        "seq_straggler", "k", expected_min=2000, expected_max=2009)
    assert se == "failed" and st["missing_pct"] == 100.0
    assert st["missing_total"] == 10 and st["out_of_range_keys"] == 1007
    assert "no keys inside expected span" in rep
    assert tp[-1]["gap_start"] == 2000 and tp[-1]["gap_end"] == 2009


def test_run_suite_declarative_checks(spark, tmp_path):
    """Suite runner: one declarative list -> per-check results + summary;
    config errors fail their entry without killing the suite."""
    from pyspark.sql import functions as F
    from xoverrr_spark.checker import QualityChecker

    child = spark.createDataFrame(
        [(1, 10), (2, 99)], "row_id int, cust int")
    parent = spark.createDataFrame([(10, "p")], "ckey int, name string")
    fresh = spark.createDataFrame(
        [("2024-01-31 23:00:00",)], "ts_s string"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"))
    child.createOrReplaceTempView("suite_child")
    parent.createOrReplaceTempView("suite_parent")
    fresh.createOrReplaceTempView("suite_fresh")

    qc = QualityChecker(spark, results_table=str(tmp_path / "results"))
    summary = qc.run_suite([
        {"type": "freshness", "source_table": "suite_fresh",
         "ts_column": "ts", "max_lag_hours": 2.0,
         "as_of": "2024-02-01 00:00:00", "check_name": "fresh_ok"},
        {"type": "referential", "source_table": "suite_child",
         "target_table": "suite_parent",
         "foreign_keys": [("cust", "ckey")], "check_name": "fk_bad"},
        {"type": "nope", "check_name": "bad_type"},
        {"type": "freshness", "source_table": "suite_fresh",
         "ts_column": "ts", "max_lag_hours": 0,  # malformed call raises
         "check_name": "bad_args"},
    ])
    assert summary["checked"] == 4
    assert summary["success"] == 1 and summary["failed"] == 3
    assert summary["suite_status"] == "failed"
    by_name = {r["name"]: r for r in summary["checks"]}
    assert by_name["fresh_ok"]["status"] == "success"
    assert by_name["fresh_ok"]["final_score"] == 100.0
    assert by_name["fk_bad"]["status"] == "failed"
    assert by_name["fk_bad"]["final_score"] == 50.0  # 1 orphan / 2 rows
    assert "unknown check type" in by_name["bad_type"]["error"]
    assert "max_lag_hours" in by_name["bad_args"]["error"]
    # the two real checks persisted audit rows; config errors did not
    audit = spark.read.parquet(str(tmp_path / "results"))
    assert audit.count() == 2

    # an all-green suite reports success
    ok = qc.run_suite([
        {"type": "freshness", "source_table": "suite_fresh",
         "ts_column": "ts", "max_lag_hours": 2.0,
         "as_of": "2024-02-01 00:00:00"},
    ])
    assert ok["suite_status"] == "success" and ok["failed"] == 0


def test_referential_failed_run_tracks_both_tables(spark, views):
    # a FAILED run counts both of its named tables, as a successful run does
    ck = QualityChecker(spark)
    status, report, *_ = ck.check_referential(
        "api_orders", "api_orders_trg", [("o_orderkey", "no_such_column")])
    assert status == "failed" and "no such parent column" in report
    assert ck.session_stats["tables"] == {"api_orders", "api_orders_trg"}
    assert ck.session_stats["checked"] == ck.session_stats["failed"] == 1


def test_check_methods_leave_the_envelope_to_run_check():
    """Guard: no check method catches exceptions or builds, persists,
    tracks or wraps its own result; the envelope calls live in
    ``_run_check`` only, so a new check type adds a body, never an
    envelope."""
    import ast
    import inspect

    from xoverrr_spark import checker as mod

    envelope_calls = {"_persist", "_track", "check_result_json",
                      "persist_audit_record", "CheckRunTimings", "uuid4"}

    def calls(node):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Call):
                f = n.func
                out.add(f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None))
        return out

    def catches_everything(node):
        return [n for n in ast.walk(node) if isinstance(n, ast.ExceptHandler)
                and (n.type is None or ast.unparse(n.type) in ("Exception", "BaseException"))]

    tree = ast.parse(inspect.getsource(mod))
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "QualityChecker")
    methods = {n.name: n for n in cls.body if isinstance(n, ast.FunctionDef)}
    for name in QualityChecker.SUITE_TYPES.values():
        fn = methods[name]
        assert not [n for n in ast.walk(fn) if isinstance(n, ast.ExceptHandler)], name
        assert not calls(fn) & envelope_calls, (name, calls(fn) & envelope_calls)

    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name != "_run_check":
            assert not calls(fn) & envelope_calls, (fn.name, calls(fn) & envelope_calls)
            assert not catches_everything(fn), fn.name
    assert envelope_calls - {"_persist", "_track"} <= calls(methods["_run_check"])
