"""Driver-side cost of the diff plan: pair canonicalization builds each
column expression once for both sides, and ``compare_frames`` is one SQL
execution, its stats observed on the examples query, even on empty inputs."""

import datetime
import threading

from pyspark.sql import functions as F

from xoverrr_spark.functions.normalize import canonicalize, canonicalize_pair
from xoverrr_spark.operators.diff import build_check_stats, compare_frames


def test_pair_canonicalization_equals_per_side(spark):
    src = spark.createDataFrame(
        [(1, 10, "x ", 1.50, True), (2, None, "None", float("nan"), None)],
        "id int, a int, b string, only_src double, flag boolean",
    )
    trg = spark.createDataFrame(
        [(1, "10", "x ", datetime.date(2024, 3, 1), False), (3, "", None, None, True)],
        "id int, a string, b string, only_trg date, flag boolean",
    )
    pair = canonicalize_pair(src, trg)
    for got, df in zip(pair, (src, trg)):
        want = canonicalize(df)
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
    # the int-vs-string column canonicalizes per side type
    assert sorted(r.a for r in pair[0].collect()) == ["10", "N/A"]
    assert sorted(r.a for r in pair[1].collect()) == ["10", "N/A"]


def _compare_in_one_execution(sql_plans, src, trg):
    """compare_frames(src, trg) with examples, asserting that it and a
    stats-only call are one SQL execution each: the stats are observed on the
    examples query, so no example kind runs a job of its own."""
    out = {}
    plans = sql_plans(lambda: out.update(r=compare_frames(src, trg, ["id"])))
    assert len(plans) == 1, plans
    plans = sql_plans(lambda: compare_frames(src, trg, ["id"], max_examples=0))
    assert len(plans) == 1, plans
    return out["r"]


def test_identical_frames_run_no_example_job(spark, sql_plans):
    rows = [(i, f"v{i}") for i in range(50)]
    same = spark.createDataFrame(rows, "id int, name string")
    stats, details = _compare_in_one_execution(sql_plans, same, same)
    assert stats.passed_rows == 50
    assert details.issue_examples == []
    assert details.source_only_keys_examples == () == details.dup_target_keys_examples


def test_each_nonzero_count_runs_its_lookup(spark, sql_plans):
    # every example kind has rows, and each comes from the same one execution
    schema = "id int, name string"
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (5, "e"), (5, "f")], schema)
    trg = spark.createDataFrame([(1, "a"), (2, "B"), (4, "d"), (4, "d"), (5, "e")], schema)
    stats, details = _compare_in_one_execution(sql_plans, src, trg)
    assert (stats.only_source_rows, stats.only_target_rows) == (1, 1)
    assert details.source_only_keys_examples == ("3",)
    assert details.target_only_keys_examples == ("4",)
    assert details.dup_source_keys_examples == ("5",)
    assert details.dup_target_keys_examples == ("4",)
    assert details.issue_examples == [
        {"primary_key": "2", "column_name": "name", "source_value": "b", "target_value": "B"},
    ]


def _stats_within_timeout(src, trg):
    """compare_frames' stats, from a thread joined with a timeout: a query
    whose observation never arrives fails here instead of hanging."""
    out = {}
    t = threading.Thread(
        target=lambda: out.update(r=compare_frames(src, trg, ["id"])), daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "compare_frames did not return"
    return out["r"][0]


def test_empty_inputs_keep_their_stats(spark):
    schema = "id int, name string"
    full = spark.createDataFrame([(1, "a"), (2, "b"), (2, "c")], schema)
    empty = spark.createDataFrame([], schema)
    assert _stats_within_timeout(empty, empty) is None
    # both sides statically empty: the optimizer folds them to empty relations
    assert _stats_within_timeout(full.filter(F.lit(False)), full.limit(0)) is None
    one_sided = build_check_stats(3, 0, 1, 0, 2, 0, 0, 0)
    assert _stats_within_timeout(full, full.filter(F.lit(False))) == one_sided
    assert _stats_within_timeout(full, full.limit(0)) == one_sided
    assert _stats_within_timeout(full.limit(0), full) == build_check_stats(0, 3, 0, 1, 0, 2, 0, 0)
