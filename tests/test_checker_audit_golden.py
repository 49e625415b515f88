"""Golden pin of what every QualityChecker check returns and persists.

Each case runs one check call on small fixed frames and compares, against
``checker_audit_golden.json``:

- the one audit row it appends, column for column over ``AUDIT_COLUMNS``;
- the returned status, report, stats and details.

Masked: the run_id (also where the reports embed it), the 8 timing fields
(reduced to whether each is set), the JSON envelope's ``timestamp`` and the
render-time line of the text report headers.
The cases cover all ten ``SUITE_TYPES``, the chunked diff paths, grouped
freshness, both SKIPPED outcomes and FAILED-by-exception runs whose error
text is the checker's own.

Regenerate only when an output change is intended::

    PYTHONPATH=. python tests/test_checker_audit_golden.py
"""

from __future__ import annotations

import dataclasses
import json
import re
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from xoverrr_spark.checker import QualityChecker
from xoverrr_spark.persistence import AUDIT_COLUMNS, TIMING_FIELDS

GOLDEN = Path(__file__).with_name("checker_audit_golden.json")
AS_OF = "2024-02-01 00:00:00"
SNIFF_SQL = (
    "SELECT id, v, CASE WHEN v > 5 THEN 'y' ELSE 'n' END AS xsniff_passed "
    "FROM gold_src"
)
BOTH = {"source_table": "gold_src", "target_table": "gold_trg"}
RANGE = {"date_column": "dt", "date_range": ("2024-01-01", "2024-01-03")}

CASES = {
    "samples": ("check_samples", dict(
        BOTH, custom_primary_key=["id"], report_output_format="json")),
    "samples_chunked": ("check_samples", dict(
        BOTH, custom_primary_key=["id"], chunk_size_days=1, **RANGE)),
    "counts": ("check_counts", dict(
        BOTH, date_column="dt", report_output_format="json")),
    "custom_queries": ("check_custom_queries", dict(
        source_query="SELECT id, v, s FROM gold_src WHERE id <= :n",
        target_query="SELECT id, v, s FROM gold_trg WHERE id <= :n",
        custom_primary_key=["id"], source_params={"n": 8},
        target_params={"n": 8}, report_output_format="json")),
    "custom_queries_chunked": ("check_custom_queries", dict(
        source_query="SELECT id, dt, v FROM gold_src",
        target_query="SELECT id, dt, v FROM gold_trg",
        custom_primary_key=["id"], chunk_size_days=2, **RANGE)),
    "sniff_query": ("check_sniff_query", dict(
        source_query=SNIFF_SQL, report_output_format="json")),
    "profile_drift": ("check_profile_drift", dict(
        BOTH, report_output_format="json")),
    "sequence": ("check_sequence", dict(
        source_table="gold_trg", key_column="id", expected_min=1,
        expected_max=12, report_output_format="json")),
    "referential": ("check_referential", dict(
        source_table="gold_trg", target_table="gold_src", foreign_keys=["id"],
        report_output_format="json")),
    "freshness": ("check_freshness", dict(
        source_table="gold_src", ts_column="ts", max_lag_hours=24.0,
        as_of=AS_OF, report_output_format="json")),
    "freshness_grouped": ("check_freshness", dict(
        source_table="gold_src", ts_column="ts", max_lag_hours=12.0,
        as_of=AS_OF, group_by=["grp"], report_output_format="json")),
    "uniqueness": ("check_uniqueness", dict(
        source_table="gold_trg", key_columns=["id"],
        report_output_format="json")),
    "split_leakage": ("check_split_leakage", dict(
        source_table="gold_docs", id_column="doc_id", text_column="text",
        split_column="split", report_output_format="json")),
    "counts_skipped": ("check_counts", dict(
        BOTH, date_column="dt", date_range=("2199-01-01", "2199-01-02"))),
    "sniff_skipped": ("check_sniff_query", dict(
        source_query=SNIFF_SQL + " WHERE id < 0")),
    "samples_failed_format": ("check_samples", dict(
        BOTH, custom_primary_key=["id"], report_output_format="xml")),
    "counts_failed_no_date": ("check_counts", dict(BOTH)),
    "sequence_failed_column": ("check_sequence", dict(
        source_table="gold_src", key_column="nope")),
    "referential_failed_column": ("check_referential", dict(
        source_table="gold_trg", target_table="gold_src",
        foreign_keys=[("id", "nope")])),
}


def make_views(spark) -> None:
    """Two 10-column-ish keyed frames with one of each diff kind (changed
    value, changed string, source-only, target-only, duplicate key), and a
    small split-tagged document set."""
    def rows(ids, override=None):
        out = []
        for i in ids:
            r = {
                "id": i, "dt": f"2024-01-0{1 + i % 3}",
                "grp": "a" if i % 2 else "b", "v": i * 1.5, "s": f"s{i}",
                "ts": f"2024-01-31 {10 + i}:00:00" if i % 2 else
                      f"2024-01-30 {10 + i}:00:00",
            }
            r.update((override or {}).get(i, {}))
            out.append((r["id"], r["dt"], r["grp"], r["v"], r["s"], r["ts"]))
        return out

    ddl = "id long, dt string, grp string, v double, s string, ts string"
    cast = [
        "id", F.col("dt").cast("date").alias("dt"), "grp", "v", "s",
        F.col("ts").cast("timestamp").alias("ts"),
    ]
    src = spark.createDataFrame(rows(range(1, 11)), ddl).select(*cast)
    trg_ids = [*range(1, 10), 2, 11]
    trg = spark.createDataFrame(
        rows(trg_ids, {4: {"v": 99.0}, 6: {"s": "zz"}}), ddl).select(*cast)
    src.createOrReplaceTempView("gold_src")
    trg.createOrReplaceTempView("gold_trg")
    docs = [
        Row(doc_id=1, text="shared dup text", split="train"),
        Row(doc_id=2, text="  SHARED   dup TEXT ", split="test"),
        Row(doc_id=3, text="triple", split="train"),
        Row(doc_id=4, text="triple", split="val"),
        Row(doc_id=5, text="triple", split="test"),
        Row(doc_id=6, text="unique", split="val"),
    ]
    spark.createDataFrame(docs).createOrReplaceTempView("gold_docs")


_NOW_LINE = re.compile(r"^\d{4}-\d\d-\d\d \d\d:\d\d:\d\d$", re.MULTILINE)


def _mask(text: str, run_id: str) -> str:
    return _NOW_LINE.sub("<now>", text.replace(run_id, "<run_id>"))


def _plain(v):
    """JSON-comparable form of a returned stats/details value."""
    if dataclasses.is_dataclass(v) and not isinstance(v, type):
        return _plain(dataclasses.asdict(v))
    if isinstance(v, Row):
        return _plain(v.asDict(recursive=True))
    if isinstance(v, dict):
        return {str(k): _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, float):
        return round(v, 9)
    if v is None or isinstance(v, (bool, int, str)):
        return v
    return str(v)


def run_case(spark, results_dir: Path, case: str) -> dict:
    """Run one case into its own results sink; return its masked outcome."""
    method, kwargs = CASES[case]
    qc = QualityChecker(spark, results_table=str(results_dir / case))
    status, report, stats, details = getattr(qc, method)(**kwargs)
    [row] = spark.read.parquet(qc.results_table).collect()
    run_id = row["run_id"]
    audit = {c: row[c] for c in AUDIT_COLUMNS}
    audit["run_id"] = "<run_id>"
    for f in TIMING_FIELDS:
        audit[f] = audit[f] is not None
    audit["report"] = _mask(audit["report"], run_id)
    if report.startswith("{"):
        report = json.loads(report)
        report["timestamp"] = "<timestamp>"
        report["run_id"] = "<run_id>"
        report["report"] = _mask(report["report"], run_id)
    else:
        report = _mask(report, run_id)
    return _plain({
        "audit": audit, "status": status, "report": report,
        "stats": stats, "details": details,
    })


@pytest.fixture(scope="module")
def golden(spark):
    make_views(spark)
    return json.loads(GOLDEN.read_text())


def test_cases_cover_every_suite_type():
    assert {m for m, _ in CASES.values()} == set(QualityChecker.SUITE_TYPES.values())


@pytest.mark.parametrize("case", sorted(CASES))
def test_check_output_matches_golden(spark, golden, tmp_path, case):
    got = run_case(spark, tmp_path, case)
    want = golden[case]
    for part in ("status", "report", "stats", "details"):
        assert got[part] == want[part], part
    for col in AUDIT_COLUMNS:
        assert got["audit"][col] == want["audit"][col], col


if __name__ == "__main__":
    import tempfile

    from xoverrr_spark.session import get_spark

    spark = get_spark("golden", cores=2, shuffle_partitions=4)
    make_views(spark)
    with tempfile.TemporaryDirectory() as tmp:
        out = {case: run_case(spark, Path(tmp), case) for case in sorted(CASES)}
    GOLDEN.write_text(json.dumps(out, indent=1, sort_keys=True, ensure_ascii=False) + "\n")
    print(f"wrote {len(out)} cases to {GOLDEN}")
