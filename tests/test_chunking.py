"""Date-chunk goldens (reference tests/unit/test_core_chunking.py:23-38),
the chunked == unchunked equivalence invariant (reference
test_postgres_chunking_yearly.py:64), and what chunking changes: a key
matches only within its chunk, examples come from every chunk in chunk
order, and a chunked check is still one query."""

import datetime

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.checker import QualityChecker
from xoverrr_spark.chunking import chunk_start

JAN = ("2024-01-01", "2024-01-31")
DAYS3 = ("2024-01-01", "2024-01-03")


def _day(d):
    return datetime.date(2024, 1, d)


def test_single_range_without_chunking():
    assert chunk_start("dt", JAN, None) is None
    assert chunk_start(None, None, 10) is None
    assert chunk_start("dt", None, 10) is None


def test_splits_range_by_days_inclusive_with_remainder(spark):
    days = spark.createDataFrame([(_day(d),) for d in range(1, 32)], "dt date")
    got = days.select("dt", chunk_start("dt", JAN, 10).alias("c")).collect()
    assert days.select(chunk_start("dt", JAN, 10)).schema[0].dataType.typeName() == "date"
    assert {r.dt.day: r.c for r in got} == {
        d: _day(1 + (d - 1) // 10 * 10) for d in range(1, 32)
    }
    assert sorted({r.c for r in got}) == [_day(1), _day(11), _day(21), _day(31)]


def test_non_positive_chunk_size_raises():
    with pytest.raises(ValueError, match="chunk_size_days must be greater than 0"):
        chunk_start("dt", JAN, 0)


def test_inverted_range_raises():
    with pytest.raises(ValueError, match="greater than end"):
        chunk_start("dt", ("2024-02-01", "2024-01-01"), 5)


@pytest.fixture(scope="module")
def three_days(spark):
    """Two keyed frames over 2024-01-01..03 with days 1 and 2 identical and
    every fault on day 3: source-only key 9, target-only key 10, target
    duplicate key 8 and a changed value at key 7."""
    schema = "id int, dt date, v string"
    src = [(i, _day(1 + (i - 1) // 3), f"v{i}") for i in range(1, 10)]
    trg = [r for r in src if r[0] not in (7, 9)]
    trg += [(7, _day(3), "changed"), (8, _day(3), "v8"), (10, _day(3), "v10")]
    spark.createDataFrame(src, schema).createOrReplaceTempView("chunk3_src")
    spark.createDataFrame(trg, schema).createOrReplaceTempView("chunk3_trg")
    return QualityChecker(spark)


def _samples(qc, **kw):
    return qc.check_samples("chunk3_src", "chunk3_trg", custom_primary_key=["id"],
                            date_column="dt", date_range=DAYS3, **kw)


@pytest.mark.parametrize("size", [1, 2])
def test_clean_first_chunk_keeps_later_examples(three_days, size):
    _, _, whole, want = _samples(three_days)
    _, _, stats, got = _samples(three_days, chunk_size_days=size)
    assert stats == whole
    assert got.source_only_keys_examples == ("9",)
    assert got.target_only_keys_examples == ("10",)
    assert got.dup_target_keys_examples == ("8",)
    assert got.issue_examples == [
        {"primary_key": "7", "column_name": "v", "source_value": "v7",
         "target_value": "changed"},
    ]
    assert got == want


def test_examples_follow_chunk_order(spark):
    # reference: cap per chunk, then re-cap on merge in chunk order
    schema = "id int, dt date"
    src = spark.createDataFrame([(5, _day(1)), (3, _day(2)), (4, _day(2))], schema)
    trg = spark.createDataFrame([(4, _day(2))], schema)
    qc = QualityChecker(spark)
    kw = dict(custom_primary_key=["id"], date_column="dt", date_range=DAYS3,
              max_examples=1)
    _, _, _, whole = qc.check_samples(src, trg, **kw)
    _, _, _, chunked = qc.check_samples(src, trg, chunk_size_days=1, **kw)
    assert whole.source_only_keys_examples == ("3",)
    assert chunked.source_only_keys_examples == ("5",)


@pytest.mark.parametrize("size", [1, 2])
def test_chunked_diff_is_one_query(three_days, sql_plans, size):
    # as many SQL executions as the unchunked call, whatever the chunk count
    custom = dict(source_query="SELECT id, dt, v FROM chunk3_src",
                  target_query="SELECT id, dt, v FROM chunk3_trg",
                  custom_primary_key=["id"], date_column="dt", date_range=DAYS3)
    for check in (lambda **kw: _samples(three_days, **kw),
                  lambda **kw: three_days.check_custom_queries(**custom, **kw)):
        whole = sql_plans(check)
        assert len(sql_plans(lambda: check(chunk_size_days=size))) == len(whole) == 1


def test_chunked_check_with_no_rows_is_skipped(three_days):
    status, _, stats, _ = three_days.check_samples(
        "chunk3_src", "chunk3_trg", custom_primary_key=["id"], date_column="dt",
        date_range=("2199-01-01", "2199-01-10"), chunk_size_days=3)
    assert (status, stats) == ("skipped", None)


def test_key_in_two_chunks_is_source_and_target_only(spark):
    schema = "id int, dt date, v string"
    src = spark.createDataFrame([(1, _day(1), "a"), (2, _day(2), "b")], schema)
    trg = spark.createDataFrame([(1, _day(5), "a"), (2, _day(2), "b")], schema)
    qc = QualityChecker(spark)
    kw = dict(custom_primary_key=["id"], date_column="dt",
              date_range=("2024-01-01", "2024-01-06"))
    _, _, stats, det = qc.check_samples(src, trg, chunk_size_days=2, **kw)
    assert (stats.only_source_rows, stats.only_target_rows) == (1, 1)
    assert (stats.comparable_rows, stats.passed_rows) == (1, 1)
    assert det.source_only_keys_examples == ("1",) == det.target_only_keys_examples
    assert det.issue_breakdown == []
    _, _, stats, det = qc.check_samples(src, trg, **kw)
    assert (stats.only_source_rows, stats.only_target_rows) == (0, 0)
    assert (stats.comparable_rows, stats.passed_rows) == (2, 1)
    assert det.issue_breakdown == [("dt", 1)]


def test_sniff_validates_chunk_size(three_days):
    status, report, _, _ = three_days.check_sniff_query(
        "SELECT id, dt, 'y' AS xsniff_passed FROM chunk3_src",
        date_column="dt", date_range=DAYS3, chunk_size_days=0)
    assert status == "failed"
    assert "chunk_size_days must be greater than 0" in report


def test_chunked_equals_unchunked(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    trg = orders.filter(F.col("o_orderkey") % 40 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 37 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")),
    )
    orders.createOrReplaceTempView("chunk_src")
    trg.createOrReplaceTempView("chunk_trg")
    qc = QualityChecker(spark)

    kwargs = dict(
        custom_primary_key=["o_orderkey"],
        date_column="o_orderdate",
        date_range=("1995-01-01", "1996-06-30"),
    )
    _, _, unchunked, _ = qc.check_samples("chunk_src", "chunk_trg", **kwargs)
    _, _, chunked, det = qc.check_samples(
        "chunk_src", "chunk_trg", chunk_size_days=45, **kwargs
    )
    for f in ("total_source_rows", "total_target_rows", "dup_source_rows",
              "only_source_rows", "only_target_rows", "comparable_rows",
              "passed_rows"):
        assert getattr(chunked, f) == getattr(unchunked, f), f
    assert chunked.final_score == pytest.approx(unchunked.final_score)
    assert dict(det.issue_breakdown).get("o_totalprice", 0) > 0
