"""Driver-side cost of the diff plan: pair canonicalization builds each
column expression once for both sides, and ``compare_frames`` runs only
the example lookups the stats row says can return something."""

import datetime

from xoverrr_spark.functions.normalize import canonicalize, canonicalize_pair
from xoverrr_spark.operators.diff import compare_frames


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(f"{group}_done", "")
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


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


def test_identical_frames_run_no_example_job(spark):
    rows = [(i, f"v{i}", i * 1.5) for i in range(50)]
    schema = "id int, name string, amt double"
    src = spark.createDataFrame(rows, schema)
    trg = spark.createDataFrame(rows, schema)
    out = {}
    full = _jobs_in_group(spark, "diff_identical_full",
                          lambda: out.update(full=compare_frames(src, trg, ["id"])))
    stats_only = _jobs_in_group(
        spark, "diff_identical_stats",
        lambda: compare_frames(src, trg, ["id"], with_examples=False))
    assert stats_only > 0
    assert full == stats_only
    stats, details = out["full"]
    assert stats.passed_rows == 50
    assert details.issue_examples == []
    assert details.source_only_keys_examples == () == details.dup_target_keys_examples


def test_each_nonzero_count_runs_its_lookup(spark):
    # the counter above is not blind: a frame with source-only keys and a
    # differing row runs the two lookups those counts gate
    schema = "id int, name string"
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema)
    trg = spark.createDataFrame([(1, "a"), (2, "B")], schema)
    stats_only = _jobs_in_group(
        spark, "diff_gated_stats", lambda: compare_frames(src, trg, ["id"], with_examples=False))
    out = {}
    full = _jobs_in_group(spark, "diff_gated_full",
                          lambda: out.update(full=compare_frames(src, trg, ["id"])))
    assert full >= stats_only + 2
    _, details = out["full"]
    assert details.source_only_keys_examples == ("3",)
    assert details.target_only_keys_examples == ()
    assert [e["primary_key"] for e in details.issue_examples] == ["2"]
