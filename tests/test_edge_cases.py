"""Degenerate-input robustness: empty frames, single rows, null text.
A 100 TB pipeline WILL see empty partitions/buckets and null payloads;
operators must return empty/neutral results, not throw."""

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id int, text string")


def _empty_pairs(spark):
    return spark.createDataFrame([], "doc_a int, doc_b int")


def test_dedup_ops_on_empty_corpus(spark):
    from xoverrr_spark.operators.dedup import (
        exact_dedup,
        exact_dedup_window,
        lsh_candidate_pairs,
        minhash_near_dups,
        minhash_signature,
        ngram_jaccard,
        simhash_near_dups,
    )

    d = _empty_docs(spark)
    assert exact_dedup(d, "doc_id", "text").count() == 0
    assert exact_dedup_window(d, "doc_id", "text").count() == 0
    sig = minhash_signature(d, "doc_id", "text")
    assert sig.count() == 0
    assert lsh_candidate_pairs(sig).count() == 0
    assert minhash_near_dups(d, "doc_id", "text").count() == 0
    assert simhash_near_dups(d, "doc_id", "text").count() == 0
    assert ngram_jaccard(d, "doc_id", "text").count() == 0


def test_cluster_on_empty_pairs_returns_empty(spark):
    from xoverrr_spark.operators.dedup import cluster_near_dups

    assert cluster_near_dups(_empty_pairs(spark)).count() == 0


def test_null_and_empty_text_rows_survive_dedup(spark):
    # regression: a null fingerprint is a null semi-join key, which never
    # matches — the semi-join form used to DROP every null-text row
    # entirely (data loss, not dedup) while the window form kept them
    from xoverrr_spark.operators.dedup import (
        exact_dedup,
        exact_dedup_window,
        minhash_near_dups,
    )

    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real text here today"), (5, None)],
        "doc_id int, text string",
    )
    # nulls form ONE group (min id 1); ""/"   " canonicalize together (2)
    expect = [1, 2, 4]
    got_semi = sorted(r["doc_id"] for r in exact_dedup(d, "doc_id", "text").collect())
    got_win = sorted(
        r["doc_id"] for r in exact_dedup_window(d, "doc_id", "text").collect()
    )
    assert got_semi == expect
    assert got_win == expect  # both forms agree on degenerate inputs
    # null/blank texts all canonicalize to the empty whole-text shingle
    # (shingle_table's short-doc fallback), so they near-dup-pair with each
    # other — consistently with being exact dups — and never with real text
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dups(d, "doc_id", "text").collect()
    ]
    degenerate = {1, 2, 3, 5}
    assert pairs and all(a in degenerate and b in degenerate for a, b in pairs)


def test_asof_join_empty_sides(spark):
    from xoverrr_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([(1, "k", 10)], "id int, k string, t long")
    empty_r = spark.createDataFrame([], "k string, t long, v double")
    rows = asof_join(left, empty_r, ["k"], "t", "t", ["v"]).collect()
    assert len(rows) == 1 and rows[0]["ref_v"] is None
    empty_l = spark.createDataFrame([], "id int, k string, t long")
    right = spark.createDataFrame([("k", 5, 1.0)], "k string, t long, v double")
    assert asof_join(empty_l, right, ["k"], "t", "t", ["v"]).count() == 0


def test_quantiles_single_row_group(spark):
    from xoverrr_spark.operators.profile import quantiles

    df = spark.createDataFrame([("a", 7.0)], "g string, value double")
    row = quantiles(df, "value", [0.5, 0.9], ["g"]).collect()[0]
    assert row["q_50"] == 7.0 and row["q_90"] == 7.0


def test_checker_on_empty_frames(spark):
    from xoverrr_spark.checker import QualityChecker

    spark.createDataFrame([], "pk int, v string, d date").createOrReplaceTempView(
        "edge_empty"
    )
    ck = QualityChecker(spark)
    status, report, stats, details = ck.check_samples(
        "edge_empty", "edge_empty", custom_primary_key=["pk"]
    )
    assert status == "skipped"  # reference: empty-both-sides is skipped
    status2, *_ = ck.check_counts("edge_empty", "edge_empty", date_column="d")
    assert status2 == "skipped"


def test_profile_empty_table(spark):
    from xoverrr_spark.operators.profile import profile

    d = spark.createDataFrame([], "a int, b string")
    rows = {r["column_name"]: r for r in profile(d).collect()}
    assert rows["a"]["n_rows"] == 0 and rows["a"]["n_distinct"] == 0


def test_counts_joined_null_dates_match_null_safely(spark):
    # a null-date daily row on each side must reconcile into ONE row, not
    # a phantom double mismatch (plain equi-join: null keys never match)
    from xoverrr_spark.operators.counts import check_counts_from_daily, counts_joined

    s = spark.createDataFrame([(None, 5), ("2024-01-01", 3)], "dt string, cnt long")
    t = spark.createDataFrame([(None, 5), ("2024-01-01", 3)], "dt string, cnt long")
    rows = {r["dt"]: (r["src_cnt"], r["trg_cnt"]) for r in counts_joined(s, t).collect()}
    assert rows[None] == (5, 5)
    assert rows["2024-01-01"] == (3, 3)
    stats = check_counts_from_daily(s, t)
    assert stats.diff_sum == 0 and stats.mismatched_days == 0
    assert stats.final_score == 100


def test_asof_join_ignores_null_right_timestamps(spark):
    from xoverrr_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([(1, "k", 10)], "id int, k string, t long")
    right = spark.createDataFrame(
        [("k", None, 99.0), ("k", 5, 1.0)], "k string, t long, v double"
    )
    rows = asof_join(left, right, ["k"], "t", "t", ["v"]).collect()
    # the null-ts row must never be "the most recent"; the t=5 row is
    assert rows[0]["ref_t"] == 5 and rows[0]["ref_v"] == 1.0


def test_diff_engine_null_keys_group_together(spark):
    # the tagged-union diff has NO join: null PKs form one group per the
    # groupBy semantics, so a null-pk row on each side compares as a
    # matched pair instead of vanishing (a join-based diff would drop
    # both). Pinned here as intended behavior.
    from xoverrr_spark.operators.diff import compare_frames

    src = spark.createDataFrame([(None, "a"), (1, "b")], "pk int, v string")
    trg = spark.createDataFrame([(None, "a"), (1, "b")], "pk int, v string")
    stats, _ = compare_frames(src, trg, ["pk"], normalize=False)
    assert stats.comparable_rows == 2
    assert stats.passed_rows == 2
    assert stats.final_score == 100


def test_null_source_docs_survive_hash_cap_and_source_filter(spark):
    # same bug class as the null-text dedup drop: a plain equi/semi join
    # on source silently deletes every null-source doc; the null-source
    # group must be capped AS A GROUP like any other
    from xoverrr_spark.operators.corpus import cap_per_source, cap_per_source_hash

    d = spark.createDataFrame(
        [(i, None if i < 6 else "siteA") for i in range(12)],
        "doc_id int, source string",
    )
    exact = cap_per_source(d, "source", "doc_id", 100)
    hashed = cap_per_source_hash(d, "source", "doc_id", 100)  # k >= n: keep all
    assert exact.count() == 12
    assert hashed.count() == 12  # null-source docs no longer vanish
    assert hashed.columns == ["doc_id", "source"]


def test_range_join_rejects_reserved_bin_column(spark):
    from datetime import datetime as dt
    import pytest
    from xoverrr_spark.operators.timeseries import range_join
    L = spark.createDataFrame([(1, 1, dt(2024, 1, 1), 0)],
                              "lid bigint, k bigint, ts timestamp, _bin int")
    R = spark.createDataFrame([(2, 1, dt(2024, 1, 1))],
                              "rid bigint, k bigint, ts timestamp")
    with pytest.raises(ValueError, match="_bin"):
        range_join(L, R, ["k"], "ts", "ts", ["rid"], 60)


def test_pack_documents_rejects_nonpositive_budget(spark):
    import pytest
    from xoverrr_spark.operators.corpus import pack_documents
    d = spark.createDataFrame([(1, "s", "a b")], "doc_id int, source string, text string")
    with pytest.raises(ValueError, match="budget"):
        pack_documents(d, 0)


def test_repetition_stats_null_and_unicode_ws_consistency(spark):
    """Null text excluded; NBSP is NOT a separator for Java regex \\s
    (ASCII), matching the RE2 oracle — 'a\\u00a0b a\\u00a0b' is ONE
    repeated word, 1 bigram."""
    from xoverrr_spark.operators.repetition import repetition_stats
    d = spark.createDataFrame(
        [(1, None), (2, "a\u00a0b a\u00a0b")], "doc_id bigint, text string")
    rows = repetition_stats(d).collect()
    assert len(rows) == 1 and rows[0].doc_id == 2
    assert rows[0].n_bigrams == 1 and rows[0].top_count == 1
