"""Tenth check family: cross-split duplicate leakage — the
eval-contamination audit productized behind the QualityChecker facade
(scored status, text/JSON report, audit row, suite entry). The engine
semantics (fingerprint sentinel, broadcast join-back plan) are pinned in
test_splits.py; these tests pin the facade contract."""

import json

import pytest
from pyspark.sql import Row

from xoverrr_spark.checker import QualityChecker


def _leaky_view(spark, name="lk_t"):
    rows = [
        Row(doc_id=1, text="shared dup text", split="train"),
        Row(doc_id=2, text="  SHARED   dup TEXT ", split="test"),  # fp-equal
        Row(doc_id=3, text="triple", split="train"),
        Row(doc_id=4, text="triple", split="val"),
        Row(doc_id=5, text="triple", split="test"),
        Row(doc_id=6, text="train only dup", split="train"),
        Row(doc_id=7, text="train only dup", split="train"),  # no leak
        Row(doc_id=8, text="unique", split="val"),
    ]
    spark.createDataFrame(rows).createOrReplaceTempView(name)
    return name


def test_check_split_leakage_scores_reports_and_persists(spark, tmp_path):
    _leaky_view(spark)
    results = str(tmp_path / "results")
    qc = QualityChecker(spark, results_table=results)

    status, report, stats, details = qc.check_split_leakage(
        "lk_t", "doc_id", "text", "split")
    # 5 of 8 docs leak (1,2 pair + 3,4,5 triple); 6,7 share a split
    assert status == "failed"
    assert stats["n_rows"] == 8 and stats["leaked_docs"] == 5
    assert stats["leaked_groups"] == 2
    assert stats["leaked_pct"] == 62.5 and stats["final_score"] == 37.5
    assert stats["leaked_by_split"] == {"train": 2, "test": 2, "val": 1}
    # examples: biggest group first, with its sorted split set
    assert details[0]["n_docs"] == 3 and details[0]["splits"] == "test,train,val"
    assert details[0]["example_id"] == 3
    assert "leaked docs: 5" in report and "x3 docs" in report

    # tolerance turns the same data green
    status2, _, _, _ = qc.check_split_leakage(
        "lk_t", "doc_id", "text", "split", max_leaked_pct=70.0)
    assert status2 == "success"

    audit = spark.read.parquet(results).filter("check_type = 'split_leakage'")
    assert audit.count() == 2
    row = audit.filter("status = 'failed'").collect()[0]
    assert row["stats_final_score"] == 37.5
    breakdown = json.loads(row["details_issue_breakdown_json"])
    assert sorted(breakdown) == [["test", 2], ["train", 2], ["val", 1]]


def test_check_split_leakage_clean_empty_null_and_json(spark, tmp_path):
    spark.createDataFrame(
        [Row(doc_id=1, text="a", split="train"), Row(doc_id=2, text="b", split="test")]
    ).createOrReplaceTempView("lk_clean")
    spark.createDataFrame(
        [], "doc_id bigint, text string, split string"
    ).createOrReplaceTempView("lk_empty")
    spark.createDataFrame(
        [Row(doc_id=1, text=None, split="train"), Row(doc_id=2, text=None, split="test")],
        "doc_id bigint, text string, split string",
    ).createOrReplaceTempView("lk_null")
    qc = QualityChecker(spark, results_table=str(tmp_path / "r"))

    status, _, stats, details = qc.check_split_leakage(
        "lk_clean", "doc_id", "text", "split")
    assert status == "success" and stats["final_score"] == 100.0
    assert details == []

    # empty table: vacuous pass, said out loud
    status_e, report_e, stats_e, _ = qc.check_split_leakage(
        "lk_empty", "doc_id", "text", "split")
    assert status_e == "success" and stats_e["n_rows"] == 0
    assert "vacuous pass" in report_e

    # null texts ARE duplicates of each other -> cross-split null pair leaks
    status_n, _, stats_n, _ = qc.check_split_leakage(
        "lk_null", "doc_id", "text", "split")
    assert status_n == "failed" and stats_n["leaked_docs"] == 2

    # JSON envelope carries the same stats
    _, payload, _, _ = qc.check_split_leakage(
        "lk_clean", "doc_id", "text", "split", report_output_format="json")
    env = json.loads(payload)
    assert env["check_type"] == "split_leakage"
    assert env["stats"]["final_score"] == 100.0


def test_check_split_leakage_error_paths_and_suite(spark, tmp_path):
    _leaky_view(spark, "lk_t2")
    qc = QualityChecker(spark, results_table=str(tmp_path / "r"))

    # malformed CALL raises BEFORE the try block (no audit row; run_suite
    # records it as a config error without killing the suite)
    with pytest.raises(ValueError, match="split_column"):
        qc.check_split_leakage("lk_t2", "doc_id", "text", "")
    # a missing column is a FAILED check run (wrapped), not a raise
    status, report, stats, _ = qc.check_split_leakage(
        "lk_t2", "doc_id", "nope", "split")
    assert status == "failed" and stats is None and "nope" in report

    summary = qc.run_suite([
        {"type": "split_leakage", "source_table": "lk_t2",
         "id_column": "doc_id", "text_column": "text",
         "split_column": "split", "check_name": "leak_audit"},
        {"type": "split_leakage", "source_table": "lk_t2",
         "id_column": "doc_id", "text_column": "text", "split_column": ""},
    ])
    assert summary["checked"] == 2 and summary["failed"] == 2
    by_name = {c["name"]: c for c in summary["checks"]}
    assert "error" in by_name["split_leakage_1"]
    assert by_name["leak_audit"]["final_score"] == 37.5


def test_check_split_leakage_date_scoped(spark, tmp_path):
    spark.createDataFrame(
        [
            Row(doc_id=1, text="dup", split="train", d="2024-01-01"),
            Row(doc_id=2, text="dup", split="test", d="2024-01-01"),
            Row(doc_id=3, text="dup", split="val", d="2024-01-02"),
        ]
    ).selectExpr("doc_id", "text", "split", "cast(d as date) d"
                 ).createOrReplaceTempView("lk_dated")
    qc = QualityChecker(spark, results_table=str(tmp_path / "r"))
    status_all, _, stats_all, _ = qc.check_split_leakage(
        "lk_dated", "doc_id", "text", "split")
    assert status_all == "failed" and stats_all["leaked_docs"] == 3
    # scoped to day 2: one copy only -> nothing leaks
    status_day, _, stats_day, _ = qc.check_split_leakage(
        "lk_dated", "doc_id", "text", "split",
        date_column="d", date_range=("2024-01-02", "2024-01-02"))
    assert status_day == "success" and stats_day["leaked_docs"] == 0


def test_check_split_leakage_near_dup_widening(spark, tmp_path):
    _leaky_view(spark, "lk_nd")
    # near-dup detector output: doc 6 (train) near-dups doc 8 (val) — not
    # fingerprint-equal, so the exact audit alone misses this leak
    spark.createDataFrame(
        [Row(doc_a=6, doc_b=8, jaccard=0.82)]
    ).createOrReplaceTempView("lk_nd_pairs")
    qc = QualityChecker(spark, results_table=str(tmp_path / "r"))

    base_status, _, base, _ = qc.check_split_leakage(
        "lk_nd", "doc_id", "text", "split")
    assert base["leaked_docs"] == 5 and base["near_dup_leaked_pairs"] == 0
    assert base["exact_leaked_docs"] == 5

    status, report, stats, _ = qc.check_split_leakage(
        "lk_nd", "doc_id", "text", "split",
        near_dup_pairs="lk_nd_pairs")
    # docs 6 (train) and 8 (val) join the leaked set: 5 exact + 2 near
    assert stats["near_dup_leaked_pairs"] == 1
    assert stats["exact_leaked_docs"] == 5
    assert stats["leaked_docs"] == 7
    assert stats["leaked_pct"] == 87.5
    assert stats["leaked_by_split"] == {"train": 3, "test": 2, "val": 2}
    assert "near-dup widening: 1 split-straddling pairs" in report

    # a same-split near-dup pair widens nothing (6,7 both train)
    spark.createDataFrame(
        [Row(doc_a=6, doc_b=7, jaccard=0.9)]
    ).createOrReplaceTempView("lk_nd_same")
    _, _, s2, _ = qc.check_split_leakage(
        "lk_nd", "doc_id", "text", "split", near_dup_pairs="lk_nd_same")
    assert s2["near_dup_leaked_pairs"] == 0 and s2["leaked_docs"] == 5


def test_check_split_leakage_near_dup_counts_a_null_split_doc_once(spark, tmp_path):
    # d (null split) exact-dups e (train) and near-dups f (test): d leaks
    # on both paths, and both must name its split the same way
    spark.createDataFrame(
        [("d", "shared text", None), ("e", "shared text", "train"),
         ("f", "other text", "test"), ("g", "lone text", "val")],
        "doc_id string, text string, split string",
    ).createOrReplaceTempView("lk_null_split")
    spark.createDataFrame(
        [Row(doc_a="d", doc_b="f", jaccard=0.9)]
    ).createOrReplaceTempView("lk_null_split_pairs")
    qc = QualityChecker(spark, results_table=str(tmp_path / "r"))

    _, _, stats, _ = qc.check_split_leakage(
        "lk_null_split", "doc_id", "text", "split",
        near_dup_pairs="lk_null_split_pairs")
    assert stats["exact_leaked_docs"] == 2
    assert stats["near_dup_leaked_pairs"] == 1
    assert stats["leaked_docs"] == 3
    assert stats["leaked_by_split"] == {
        "\x00<null-split>": 1, "test": 1, "train": 1}
