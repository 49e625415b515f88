"""Physical-plan assertions: the plans we designed for are the plans we get.

At 100 TB these properties are the difference between a scan of 7 columns
and a scan of 1 binary blob column per row; between a broadcast and a 2 PB
shuffle. Asserted here so regressions fail loudly.
"""

import re

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.operators.diff import diff_joined
from xoverrr_spark.pipeline.quality_filter import quality_filter


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_bytes_column_pruned_from_scan(spark, tmp_path):
    from xoverrr_spark.fixtures.images import images_df

    p = str(tmp_path / "imgs")
    images_df(spark, 50, 1).write.parquet(p)
    plan = _formatted(quality_filter(spark.read.parquet(p)))
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schema, plan
    assert "bytes" not in scan_schema[0], scan_schema[0]
    assert "caption" in scan_schema[0]


def test_date_filter_pushed_to_parquet(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    q = orders.filter(F.col("o_orderdate") >= "1995-01-01").select("o_orderkey")
    plan = _formatted(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "o_orderdate" in pushed[0], plan


def test_diff_is_single_shuffle_no_join(spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    trg = src.limit(100)
    j, _ = diff_joined(src, trg, ["o_orderkey"], normalize=False)
    # the tagged-union formulation: ONE key-hash exchange, zero join operators
    plan = _plan(j)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan or "SortAggregate" in plan, plan


def test_anti_join_broadcasts(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    hot = c.limit(10).select("c_custkey")
    out = c.join(F.broadcast(hot), "c_custkey", "left_anti")
    assert "BroadcastHashJoin" in _plan(out) or "BroadcastNestedLoopJoin" in _plan(out)


def test_pipeline_single_python_hop(spark, tmp_path):
    from xoverrr_spark.fixtures.images import images_df

    p = str(tmp_path / "imgs2")
    images_df(spark, 50, 2).write.parquet(p)
    plan = _plan(quality_filter(spark.read.parquet(p)))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time python


def test_embedding_near_dups_no_cartesian(spark):
    from xoverrr_spark.operators.similarity import embedding_near_dups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_near_dups(emb, threshold=0.42))
    # W2 fix: candidates come from a band-bucket equi-join, never a
    # broadcast of / cartesian over the corpus
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_verify_is_candidate_bounded(spark):
    from xoverrr_spark.operators.dedup import minhash_near_dups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nd = minhash_near_dups(docs, "doc_id", "text")
    plan = nd._jdf.queryExecution().optimizedPlan().toString()
    # W1 fix: the exact-Jaccard verify joins candidate pairs to per-doc
    # shingle arrays — there must be NO join keyed on shingle_hash (the
    # full-corpus co-occurrence self-join) anywhere in the plan
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert join_lines, plan
    assert not any("shingle_hash" in l for l in join_lines), join_lines


def test_pipeline_no_shuffle(spark, tmp_path):
    from xoverrr_spark.fixtures.images import images_df

    p = str(tmp_path / "imgs3")
    images_df(spark, 50, 3).write.parquet(p)
    plan = _plan(quality_filter(spark.read.parquet(p)))
    assert "Exchange" not in plan, plan


def test_runner_bucket_scan_is_partition_pruned(spark, tmp_path):
    # W5 fix: the runner stages the input partitioned by bucket, so each
    # bucket job's filter is a PARTITION filter (reads 1/n of the files),
    # not a post-scan predicate over the full input
    from xoverrr_spark.fixtures.images import images_df
    from xoverrr_spark.pipeline.runner import stage_bucketed_input

    staged = stage_bucketed_input(
        spark, images_df(spark, 120, 11), str(tmp_path / "run"), n_buckets=8
    )
    plan = _formatted(staged.filter(F.col("bucket") == 3))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "bucket" in pf[0], plan
    # and no post-scan data filter on bucket remains (ideally the scan has
    # no PushedFilters line at all — the predicate is purely partition-level)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert not pushed or "bucket" not in pushed[0], plan


def test_diff_is_one_observed_query(spark, sf_dir, sql_plans):
    # compare_frames persists nothing: its one query observes the stats on
    # the per-key frame and ranks every example kind in one window, whose
    # partial WindowGroupLimit caps each kind before the window's exchange
    from xoverrr_spark.operators.diff import compare_frames

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = orders.filter(F.col("o_orderkey") % 7 != 0)
    trg = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_orderstatus", F.when(F.col("o_orderkey") % 3 == 0, "X").otherwise(F.col("o_orderstatus"))
    )
    [plan] = sql_plans(lambda: compare_frames(src, trg, ["o_orderkey"], normalize=False))
    # the final tree, top down, as (name, id); then each node's Arguments line
    final = plan.split("== Initial Plan ==")[0]
    nodes = re.findall(r"[+:]- (?:\* )?([A-Za-z][\w ]*?) +\((\d+)\)", final)
    args = dict(re.findall(r"^\((\d+)\) .*\n(?:.+\n)*?Arguments: (.*)$", plan, re.M))
    names = [n for n, _ in nodes]
    assert names.count("CollectMetrics") == 1, final
    assert names.count("Scan parquet") == 2, final
    assert "InMemoryTableScan" not in plan, plan
    exchange = names.index("Exchange", names.index("Window"))
    partial = names.index("WindowGroupLimit", exchange)
    assert partial < names.index("CollectMetrics"), final
    assert args[nodes[partial][1]].endswith("Partial"), plan


def test_source_keep_rate_single_scan_no_join(spark, sf_dir):
    # decisions carry `source` (annotate keeps every column), so the rate
    # aggregation must be one scan + one groupBy — no re-join to the corpus
    from xoverrr_spark.operators.corpus import source_keep_rate
    from xoverrr_spark.pipeline.quality_filter import annotate

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(source_keep_rate(annotate(d, caption_col="text", with_ppl=False)))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_id_gaps_key_window_is_partitioned(spark, sf_dir):
    # The r03 verdict's one weak plan: a global ORDER BY window would sort
    # every key on ONE task. The partition-range form must (a) run the
    # lead-over-keys window partitioned by bucket, and (b) confine the
    # single-partition stitch to the aggregated per-bucket bounds frame.
    from xoverrr_spark.operators.sequence import id_gaps

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") % 97 != 0
    )
    g = id_gaps(o, "o_orderkey", bucket_bits=10)
    g.collect()  # AQE-final plan
    plan = _plan(g).split("== Initial Plan ==")[0]
    key_windows = [
        l for l in plan.splitlines() if "Window [lead(k#" in l
    ]
    assert key_windows, plan
    for l in key_windows:
        assert "windowspecdefinition(b#" in l, l  # partitioned by bucket
    # exactly one SinglePartition exchange, and it feeds the bounds
    # aggregate (min/max per bucket), never the raw key set
    singles = plan.count("Exchange SinglePartition")
    assert singles == 1, plan
    seg = plan[plan.index("Exchange SinglePartition"):]
    assert "HashAggregate" in seg.split("Window")[0].split("Scan")[0], plan


def test_id_gaps_stitches_across_empty_buckets(spark):
    # gaps spanning WHOLE empty buckets appear only via the bounds stitch
    from xoverrr_spark.operators.sequence import id_gaps

    keys = [0, 1, 2, 10, 11, 30, 31]  # bucket_bits=2 -> buckets 0,2,7
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = sorted(
        (r.gap_start, r.gap_end, r.missing)
        for r in id_gaps(df, "k", bucket_bits=2).collect()
    )
    assert got == [(3, 9, 7), (12, 29, 18)]


def test_id_gaps_matches_naive_on_random_sets(spark):
    import random

    from xoverrr_spark.operators.sequence import id_gaps

    rng = random.Random(42)
    keys = sorted(rng.sample(range(100000), 5000)) + [100003, 100003]  # dups ok
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = sorted(
        (r.gap_start, r.gap_end, r.missing)
        for r in id_gaps(df, "k", bucket_bits=8).collect()
    )
    uniq = sorted(set(keys))
    naive = [
        (a + 1, b - 1, b - a - 1)
        for a, b in zip(uniq, uniq[1:])
        if b - a > 1
    ]
    assert got == naive


def test_candidate_jaccard_fresh_build_is_restricted_and_shared(spark, tmp_path):
    # The staged job's verify stage (no prebuilt shingle table): the
    # corpus scan must be candidate-restricted BEFORE the shingle explode
    # (broadcast semi-join against the candidate id set), and the
    # shingle-set frame must be persisted — it feeds BOTH sides of the
    # pair join, and Spark never reuses a self-join exchange (unpersisted,
    # the whole scan+collect_set ran twice: 93s -> 19s at 1M docs).
    from xoverrr_spark.operators.dedup import candidate_jaccard

    docs_p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4} w{i+5}") for i in range(100)],
        "doc_id bigint, text string",
    ).write.parquet(docs_p)
    docs = spark.read.parquet(docs_p)
    cands = spark.createDataFrame(
        [(0, 1), (2, 3)], "doc_a bigint, doc_b bigint")
    j = candidate_jaccard(docs, "doc_id", "text", cands)
    j.collect()
    plan = _plan(j).split("== Initial Plan ==")[0]
    # the docs table is scanned exactly ONCE (inside the cached sets
    # build — without the persist the self-join ran the scan twice),
    # and both pair-join sides read the cache (AQE prints the second
    # reference as a reused stage, so >= 1 literal occurrence)
    assert plan.count("FileScan parquet") == 1, plan
    assert "InMemoryTableScan" in plan, plan
    # the one docs scan sits under a semi-join (restriction before
    # shingling), so the explode never sees non-candidate docs
    assert "LeftSemi" in plan, plan


def test_id_gaps_degenerate_inputs(spark):
    from xoverrr_spark.operators.sequence import id_gaps

    assert id_gaps(spark.createDataFrame([], "k bigint"), "k").collect() == []
    assert id_gaps(spark.createDataFrame([(5,)], "k bigint"), "k").collect() == []
    # negative keys: shiftright is an ARITHMETIC shift (floor division),
    # so buckets order correctly across the sign boundary
    neg = spark.createDataFrame([(-10,), (-8,), (-2,), (3,), (2000,)], "k bigint")
    got = sorted((r.gap_start, r.gap_end, r.missing)
                 for r in id_gaps(neg, "k", bucket_bits=2).collect())
    assert got == [(-9, -9, 1), (-7, -3, 5), (-1, 2, 4), (4, 1999, 1996)]
    # null keys carry no sequence position
    nulls = spark.createDataFrame([(None,), (1,), (4,)], "k bigint")
    assert [(r.gap_start, r.gap_end) for r in id_gaps(nulls, "k").collect()] == [(2, 3)]


def test_tpch_shape_twins_plans(spark, sf_dir):
    """Round-5 TPC-H additions: the shared-SQL twins must produce the
    scale-shaped plans they were designed for — q6 pushes every range
    predicate into the parquet scan; q17's correlated scalar subqueries
    rewrite to aggregated (hash-agg) joins, never a nested-loop; q21's
    EXISTS/NOT EXISTS become semi/anti joins."""
    import __spark_entry__ as e

    qs = e.queries()
    p6 = _formatted(qs["q6_forecast_revenue"](spark, sf_dir))
    pushed = [l for l in p6.splitlines() if "PushedFilters" in l]
    assert pushed, p6
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed[0], pushed[0]

    p17 = _plan(qs["q17_small_quantity"](spark, sf_dir))
    assert "NestedLoop" not in p17 and "CartesianProduct" not in p17, p17
    assert "HashAggregate" in p17, p17

    p21 = _plan(qs["q21_waiting_suppliers"](spark, sf_dir))
    assert "LeftSemi" in p21 and "LeftAnti" in p21, p21
    assert "CartesianProduct" not in p21, p21


def test_assign_splits_zero_shuffle(spark, sf_dir):
    """The split assignment is a pure map — the 'zero shuffle,
    partitioning-independent' claim, plan-pinned."""
    from xoverrr_spark.operators.splits import assign_splits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = assign_splits(
        docs.select("doc_id"), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1}, seed=1)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint>" in _formatted(df)  # pruned scan


def test_split_leakage_single_pass_one_exchange(spark, sf_dir):
    """The leakage audit is ONE fingerprint pass + ONE shuffle (r6): the
    distinct split set per fingerprint rides a single window over text_fp
    and the per-row filter reads it — no join at all. The previous
    distinct+groupBy+join-back shape fingerprinted the corpus TWICE
    (plan branches never share execution) and shuffled three times."""
    from xoverrr_spark.operators.splits import assign_splits, split_leakage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with_split = assign_splits(
        docs.select("doc_id", "text"), "doc_id",
        {"train": 0.8, "val": 0.2}, seed=1)
    df = split_leakage(with_split, "doc_id", "text", "split")
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    # the md5-of-normalized-text fingerprint is evaluated exactly once
    # (assign_splits' own md5-of-key also appears in the plan, so count the
    # fingerprint's lower() canonicalization, unique to it here)
    assert plan.count("lower(") == 1, plan
