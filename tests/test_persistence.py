"""Audit append: the one-row frame is a LocalTableScan (no Python worker),
and a fully populated record round-trips column for column with the schema
of ``audit_schema()``."""

from pyspark.sql.types import DataType

from xoverrr_spark.operators.diff import CheckDetails, build_check_stats
from xoverrr_spark.persistence import (
    AUDIT_COLUMNS,
    TIMING_FIELDS,
    CheckRunTimings,
    audit_frame,
    audit_schema,
    build_audit_record,
    persist_audit_record,
)


def _full_record() -> dict:
    stats = build_check_stats(
        2**40 + 7, 2**40 + 3, 2**33, 5, 123456789012, 2**35, 2**40 - 11, 2**40 // 3,
        [2**38, 3, 2**31 + 1],
    )
    details = CheckDetails(
        issue_breakdown=[("naïve_col", 3), ("価格", 1)],
        issue_examples=[{"primary_key": "1|ä", "column_name": "価格",
                         "source_value": "€1.5", "target_value": None}],
        dup_source_keys_examples=(1, 2),
        dup_target_keys_examples=(),
        source_only_keys_examples=(("a", 1),),
        target_only_keys_examples=(),
        evaluated_columns=["naïve_col", "価格"],
        skipped_source_columns=["only_src"],
        skipped_target_columns=[],
    )
    timings = CheckRunTimings(**{f: f"2024-03-0{i + 1} 12:34:56"
                                 for i, f in enumerate(TIMING_FIELDS)})
    return build_audit_record(
        run_id="run-ü", check_type="samples", status="failed",
        check_name="prüfung ✓", check_tags={"owner": "zoë", "tier": 1},
        source_table="src_ß", target_table="trg_ø", timezone="Europe/Kyiv",
        source_query="SELECT * FROM t WHERE name = :name", source_params={"name": "O'Brien"},
        target_query=None,
        report="Bericht: 3 Spalten unterscheiden sich — 价格 ≠ €\nline two",
        stats=stats, details=details, timings=timings,
    )


def test_audit_append_plans_local_table_scan(spark):
    plan = audit_frame(spark, _full_record())._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "Python" not in plan


def test_full_audit_record_round_trips(spark, tmp_path):
    rec = _full_record()
    # the record exercises the typed edges: a NULL text column, longs
    # past 2**32, floats rounded to 5 decimals
    assert rec["target_query"] is None
    assert rec["stats_total_source_rows"] > 2**32
    assert rec["stats_issue_rows_pct"] != round(rec["stats_issue_rows_pct"], 2)
    path = str(tmp_path / "audit")
    persist_audit_record(spark, rec, path)
    back = spark.read.parquet(path)
    assert back.schema == DataType.fromDDL(audit_schema())
    rows = back.collect()
    assert len(rows) == 1
    got = rows[0].asDict()
    for c in AUDIT_COLUMNS:
        assert got[c] == rec[c], c


def test_audit_record_null_stats_round_trips(spark, tmp_path):
    # a FAILED run carries no stats: every stats_* column is NULL
    rec = build_audit_record(run_id="r", check_type="samples", status="failed",
                             report="check failed with error: ошибка")
    path = str(tmp_path / "audit")
    persist_audit_record(spark, rec, path)
    got = spark.read.parquet(path).collect()[0].asDict()
    assert all(got[c] is None for c in AUDIT_COLUMNS if c.startswith("stats_"))
    assert got == {c: rec[c] for c in AUDIT_COLUMNS}
