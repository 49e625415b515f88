"""Table-profiling operator: per-column row/null/distinct counts."""

import pytest

from xoverrr_spark.operators.profile import profile


@pytest.fixture(scope="module")
def frame(spark):
    rows = [(1, "a", None), (2, "a", 5.0), (3, None, 5.0), (4, "b", 7.0)]
    return spark.createDataFrame(rows, "id int, s string, v double")


def test_profile_exact(frame):
    got = {r["column_name"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
           for r in profile(frame).collect()}
    assert got == {
        "id": (4, 0, 4),
        "s": (4, 1, 2),    # countDistinct ignores NULLs
        "v": (4, 1, 2),
    }


def test_profile_single_job_plan(frame):
    plan = profile(frame)._jdf.queryExecution().executedPlan().toString()
    # one scan feeding one aggregation chain (Expand handles the distincts)
    assert plan.count("Scan ExistingRDD") <= 1
    assert "Expand" in plan


def test_profile_drift_surfaces_injected_shifts(spark):
    from pyspark.sql import functions as F
    from xoverrr_spark.operators.profile import profile_drift
    src = spark.createDataFrame(
        [(i, f"v{i % 10}") for i in range(100)], "id bigint, v string")
    trg = (
        src.filter("id % 2 = 0")                       # half the rows
        .withColumn("v", F.when(F.col("id") % 4 == 0, None)
                          .otherwise(F.lit("only")))   # nulls + distinct collapse
    )
    got = {r.column_name: r for r in profile_drift(src, trg).collect()}
    assert got["id"].row_delta == -50 and got["id"].src_null_rate == 0.0
    v = got["v"]
    assert v.src_distinct == 10 and v.trg_distinct == 1
    assert v.distinct_delta == -9
    assert v.trg_null_rate == 0.5 and v.src_null_rate == 0.0


def test_profile_drift_zero_row_side_rates(spark):
    from xoverrr_spark.operators.profile import profile_drift
    src = spark.createDataFrame([(1, "a")], "id bigint, v string")
    trg = src.filter("id < 0")
    got = {r.column_name: r for r in profile_drift(src, trg).collect()}
    assert got["v"].trg_rows == 0 and got["v"].trg_null_rate == 0.0


def test_histogram_clamps_and_counts(spark):
    from xoverrr_spark.operators.profile import histogram
    rows = [(float(v),) for v in [-5, 0, 1, 9, 10, 15, 99, 100, 250]] + [(None,)]
    df = spark.createDataFrame(rows, "v double")
    got = {r.bin: (r.cnt, r.bin_lo, r.bin_hi) for r in
           histogram(df, "v", 0.0, 100.0, 10).collect()}
    # -5 clamps into bin 0; 100 and 250 clamp into bin 9; null excluded
    assert got[0] == (4, 0.0, 10.0)      # -5, 0, 1, 9
    assert got[1][0] == 2                # 10, 15
    assert got[9][0] == 3                # 99, 100, 250
    assert sum(c for c, *_ in got.values()) == 9


def test_key_skew_stats_flags_hot_and_null_keys(spark):
    from pyspark.sql import functions as F
    from xoverrr_spark.operators.profile import key_skew_stats
    rows = [(1, "x")] * 50 + [(None, "n")] * 30 + [(i + 10, "y") for i in range(20)]
    df = spark.createDataFrame(rows, "k bigint, v string")
    got = key_skew_stats(df, ["k"], top_k=3).collect()
    assert [r.k for r in got[:2]] == [1, None]
    assert got[0].cnt == 50 and got[0].share == 0.5
    assert got[1].cnt == 30   # the accidental-null-skew case is visible


def test_histogram_drift_distances(spark):
    from xoverrr_spark.operators.profile import histogram_drift

    src = spark.createDataFrame(
        [(float(i), 1.0, float(i), None) for i in range(1000)],
        "x double, const double, y double, dead double")
    trg = spark.createDataFrame(
        [(float(i) + 1000.0, 1.0, float(i), None) for i in range(1000)],
        "x double, const double, y double, dead double")
    got = {r["column_name"]: r for r in
           histogram_drift(src, trg, ["x", "const", "y", "dead"]).collect()}
    # disjoint ranges: total variation ~1 (all mass unmatched)
    assert got["x"]["hist_tv"] > 0.9
    # identical distributions: 0
    assert got["y"]["hist_tv"] == 0.0
    # constant at the same value on both sides (lo == hi): no signal, 0
    assert got["const"]["hist_tv"] == 0.0
    # all-null on both sides: no signal, 0
    assert got["dead"]["hist_tv"] == 0.0


def test_histogram_drift_one_side_empty_column(spark):
    from xoverrr_spark.operators.profile import histogram_drift

    src = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    trg = spark.createDataFrame([(None,)], "x double")
    [r] = histogram_drift(src, trg, ["x"]).collect()
    # all of src's mass unmatched -> l1 = 1, TV = 0.5
    assert abs(r["hist_l1"] - 1.0) < 1e-9 and r["trg_n"] == 0


def test_histogram_drift_nan_inf_do_not_poison_bins(spark):
    """One NaN/Inf in the max made the bin width NaN — every value landed
    in the last bin on both sides and a real shift read as 0. Bounds now
    come from finite values; non-finite mass takes an overflow bin."""
    from xoverrr_spark.operators.profile import histogram_drift

    src = spark.createDataFrame(
        [(float("nan"),), (float("inf"),)] + [(float(i),) for i in range(100)],
        "x double")
    trg = spark.createDataFrame(
        [(float(i) + 1000.0,) for i in range(100)], "x double")
    [r] = histogram_drift(src, trg, ["x"]).collect()
    # disjoint finite ranges + src-only non-finite mass: near-max distance
    assert r["hist_tv"] > 0.9, r

    # identical finite data, src additionally carries NaNs: the overflow
    # bin registers the difference instead of silently matching
    src2 = spark.createDataFrame(
        [(float("nan"),)] * 50 + [(float(i),) for i in range(50)], "x double")
    trg2 = spark.createDataFrame([(float(i),) for i in range(50)], "x double")
    [r2] = histogram_drift(src2, trg2, ["x"]).collect()
    assert abs(r2["hist_tv"] - 0.5) < 1e-9, r2


def test_histogram_drift_survives_target_type_drift(spark):
    """r4 ADVICE: a column numeric in SRC but string in TRG used to make
    cast('double') THROW under ANSI, collapsing check_profile_drift to the
    generic error path. try_cast nulls the uncastable values, which then
    land in the overflow bin — the type drift itself scores as distance."""
    from xoverrr_spark.operators.profile import histogram_drift

    src = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    trg = spark.createDataFrame([("not-a-number",)] * 100, "x string")
    [r] = histogram_drift(src, trg, ["x"]).collect()
    # all src mass in real bins, all trg mass in the overflow bin
    assert abs(r["hist_tv"] - 1.0) < 1e-9

    # castable strings behave like their numeric values: identical
    # distributions read zero drift even across the type change
    trg2 = spark.createDataFrame([(str(float(i)),) for i in range(100)], "x string")
    [r2] = histogram_drift(src, trg2, ["x"]).collect()
    assert r2["hist_tv"] == 0.0


def test_check_profile_drift_scores_type_drift_instead_of_erroring(spark, tmp_path):
    """End-to-end: numeric->string type drift on the target flows through
    check_profile_drift as a scored FAILED, not the error path."""
    from xoverrr_spark.checker import QualityChecker

    spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k bigint, x double"
    ).createOrReplaceTempView("tdrift_src")
    spark.createDataFrame(
        [(i, "oops") for i in range(50)], "k bigint, x string"
    ).createOrReplaceTempView("tdrift_trg")
    qc = QualityChecker(spark, results_table=str(tmp_path / "res"))
    status, report, stats, rows = qc.check_profile_drift(
        "tdrift_src", "tdrift_trg", columns=["x"])
    assert status == "failed" and stats is not None   # scored, not error
    assert stats["drift_pct"] >= 100.0                # hist_tv 1.0 -> 100
