"""Golden-score tests for the diff engine.

Expected values replicate the reference's unit-test assertions
(/root/reference/tests/unit/test_utils.py): identical => 0; one key missing
each side of 2 common => 15.0; 2 of 3 value rows differ => (2/3)*100*0.5;
duplicate-PK weighting; empty => (None, None)/skipped; null canonicalization.
"""

import pytest

from xoverrr_spark.operators.diff import (
    CHECK_FAILED,
    CHECK_SKIPPED,
    CHECK_SUCCESS,
    check_status,
    compare_frames,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_identical_frames_score_zero(spark):
    rows = [(1, "alice", 30), (2, "bob", 25), (3, "carol", 41)]
    schema = "id int, name string, age int"
    stats, details = compare_frames(_df(spark, rows, schema), _df(spark, rows, schema), ["id"])
    assert stats.final_diff_score == 0
    assert stats.final_score == 100
    assert stats.comparable_rows == 3
    assert stats.passed_rows == 3
    assert check_status(stats) == CHECK_SUCCESS


def test_key_mismatch_scores_15(spark):
    # 2 common keys, 1 source-only, 1 target-only => 50%*0.15*2 = 15.0
    # (reference test_utils.py:297-311)
    schema = "id int, name string"
    src = _df(spark, [(1, "a"), (2, "b"), (3, "c")], schema)
    trg = _df(spark, [(1, "a"), (2, "b"), (4, "d")], schema)
    stats, _ = compare_frames(src, trg, ["id"])
    assert stats.comparable_rows == 2
    assert stats.only_source_rows == 1
    assert stats.only_target_rows == 1
    assert stats.final_diff_score == pytest.approx(15.0)


def test_value_diffs_weighted_half(spark):
    # 2 of 3 common rows differ => (2/3)*100*0.5 (reference test_utils.py:77-96)
    schema = "id int, name string, age int"
    src = _df(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)], schema)
    trg = _df(spark, [(1, "a", 1), (2, "B", 2), (3, "c", 9)], schema)
    stats, details = compare_frames(src, trg, ["id"])
    assert stats.comparable_rows == 3
    assert stats.passed_rows == 1
    assert stats.issue_rows_pct == pytest.approx(200 / 3)
    assert stats.final_diff_score == pytest.approx((2 / 3) * 100 * 0.5)
    assert dict(details.issue_breakdown) == {"name": 1, "age": 1}


def test_duplicate_pk_weighting(spark):
    # 4 source rows, 1 extra dup => dup_src_pct 25 -> 2.5; plus the dup key's
    # value difference contributes issue% (reference test_utils.py:476-501 family)
    schema = "pk int, value string"
    src = _df(spark, [(1, "x"), (1, "y"), (2, "b"), (3, "c")], schema)
    trg = _df(spark, [(1, "x"), (2, "b"), (3, "c")], schema)
    stats, _ = compare_frames(src, trg, ["pk"])
    assert stats.dup_source_rows == 1
    assert stats.dup_source_rows_pct == pytest.approx(25.0)
    assert stats.comparable_rows == 3
    # deduped source keeps min-struct row (1,'x') == target row => all match
    assert stats.passed_rows == 3
    assert stats.final_diff_score == pytest.approx(2.5)


def test_both_empty_returns_none_skipped(spark):
    schema = "id int, v string"
    src = _df(spark, [], schema)
    trg = _df(spark, [], schema)
    stats, details = compare_frames(src, trg, ["id"])
    assert stats is None and details is None
    assert check_status(stats) == CHECK_SKIPPED


def test_no_common_keys_scores_zero(spark):
    schema = "id int, v string"
    src = _df(spark, [(1, "a")], schema)
    trg = _df(spark, [(2, "b")], schema)
    stats, _ = compare_frames(src, trg, ["id"])
    assert stats.comparable_rows == 0
    assert stats.final_score == 0
    assert stats.final_diff_score == 100
    assert check_status(stats) == CHECK_FAILED


def test_null_canonicalization(spark):
    # NaN/None/whitespace => 'N/A'; 5.0 == 5 (reference test_utils.py:23-38)
    src = spark.createDataFrame(
        [(1, None, "  ", 5.0), (2, "None", "x", 1.5)],
        "id int, a string, b string, c double",
    )
    trg = spark.createDataFrame(
        [(1, "N/A", "N/A", 5.0), (2, "N/A", "x", 1.5)],
        "id int, a string, b string, c double",
    )
    stats, _ = compare_frames(src, trg, ["id"])
    assert stats.passed_rows == 2
    assert stats.final_score == 100


def test_integral_float_equals_int(spark):
    src = spark.createDataFrame([(1, 5.0)], "id int, v double")
    trg = spark.createDataFrame([(1, 5)], "id int, v int")
    stats, _ = compare_frames(src, trg, ["id"])
    assert stats.final_score == 100


def test_compound_pk(spark):
    schema = "id1 int, id2 string, value int"
    src = _df(spark, [(1, "a", 10), (1, "b", 20), (2, "a", 30)], schema)
    trg = _df(spark, [(1, "a", 10), (1, "b", 99), (3, "a", 30)], schema)
    stats, _ = compare_frames(src, trg, ["id1", "id2"])
    assert stats.comparable_rows == 2
    assert stats.passed_rows == 1
    assert stats.only_source_rows == 1
    assert stats.only_target_rows == 1


def test_issue_examples_capped(spark):
    schema = "id int, v string"
    src = _df(spark, [(i, f"a{i}") for i in range(10)], schema)
    trg = _df(spark, [(i, f"b{i}") for i in range(10)], schema)
    stats, details = compare_frames(src, trg, ["id"], max_examples=3)
    assert stats.passed_rows == 0
    assert len(details.issue_examples) == 3
    assert all(e["column_name"] == "v" for e in details.issue_examples)
    # no examples asked: the stats still arrive
    stats0, details0 = compare_frames(src, trg, ["id"], max_examples=0)
    assert stats0 == stats and details0.issue_examples == []


def test_dup_key_examples_compound_pk(spark):
    # duplicate compound PK fixture shape from reference
    # tests/unit/test_utils.py:503-533 (duplicate (1,'A') in source)
    schema = "key1 int, key2 string, value int"
    src = _df(spark, [(1, "A", 10), (1, "A", 20), (1, "B", 30), (2, "A", 40)], schema)
    trg = _df(spark, [(1, "A", 10), (1, "B", 30), (2, "A", 40), (3, "A", 50)], schema)
    stats, details = compare_frames(src, trg, ["key1", "key2"], normalize=False)
    assert stats.dup_source_rows == 1 and stats.dup_target_rows == 0
    assert details.dup_source_keys_examples == ((1, "A"),)
    assert details.dup_target_keys_examples == ()
    # with normalize=True the keys come back canonicalized (strings)
    _, details_n = compare_frames(src, trg, ["key1", "key2"])
    assert details_n.dup_source_keys_examples == (("1", "A"),)


def test_dup_key_examples_capped_and_sorted(spark):
    schema = "pk int, value string"
    src = _df(spark, [(i, "x") for i in range(1, 7)], schema)
    trg = _df(spark, [(i, "x") for i in range(1, 7) for _ in range(2)], schema)
    stats, details = compare_frames(src, trg, ["pk"], max_examples=3, normalize=False)
    assert stats.dup_target_rows == 6
    # deterministic: the 3 smallest duplicate keys
    assert details.dup_target_keys_examples == (1, 2, 3)
    assert details.dup_source_keys_examples == ()


def test_null_vs_value_counted_null_safe(spark):
    # ADVICE r01: with normalize=False a NULL-vs-value mismatch must hit the
    # per-column counter (NOT <=>), keeping issue_breakdown consistent with
    # passed_rows (struct equality, null-aware)
    schema = "id int, v string"
    src = _df(spark, [(1, None), (2, "x")], schema)
    trg = _df(spark, [(1, "y"), (2, "x")], schema)
    stats, details = compare_frames(src, trg, ["id"], normalize=False)
    assert stats.passed_rows == 1
    assert details.issue_breakdown == [("v", 1)]
    assert stats.max_issue_pct == pytest.approx(50.0)
    ex = details.issue_examples
    assert len(ex) == 1 and ex[0]["source_value"] is None and ex[0]["target_value"] == "y"


def test_key_examples_are_the_smallest_keys(spark):
    # source-only and target-only examples are the max_examples smallest
    # keys in key order, not whichever rows a partition yields first
    schema = "id int, v string"
    src = _df(spark, [(i, "x") for i in range(0, 200)], schema)
    trg = _df(spark, [(i, "x") for i in range(150, 400)], schema)
    _, details = compare_frames(src, trg, ["id"], max_examples=3, normalize=False)
    assert details.source_only_keys_examples == (0, 1, 2)
    assert details.target_only_keys_examples == (200, 201, 202)
    # canonicalized keys are strings: string order
    _, details_n = compare_frames(src, trg, ["id"], max_examples=3)
    assert details_n.source_only_keys_examples == ("0", "1", "10")
    assert details_n.target_only_keys_examples == ("200", "201", "202")


def test_compound_key_example_orders(spark):
    # struct order (1, 5) < (2, 1) < (10, 2) differs from primary_key string
    # order "10|2" < "1|5" < "2|1": issue examples follow the string, key
    # examples follow the keys
    schema = "k1 int, k2 int, v string"
    keys = [(1, 5), (2, 1), (10, 2)]
    src = _df(spark, [(a, b, "x") for a, b in keys] * 2 + [(20, 0, "x")], schema)
    trg = _df(spark, [(a, b, "y") for a, b in keys] + [(30, 0, "y")], schema)
    _, details = compare_frames(src, trg, ["k1", "k2"], max_examples=2, normalize=False)
    assert [e["primary_key"] for e in details.issue_examples] == ["10|2", "1|5"]
    assert details.dup_source_keys_examples == ((1, 5), (2, 1))
    assert details.source_only_keys_examples == ((20, 0),)
    assert details.target_only_keys_examples == ((30, 0),)
