"""Bucketed co-located joins: the write-once-shuffle-never contract.

The plan assertions are the point: a join of two co-bucketed tables must
show NO Exchange on either side (the 100-TB win), and a groupBy on the
bucket key must aggregate in place. Parity vs the plain join pins that
bucketing never changes results, only physical movement.
"""

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.operators.bucketing import write_bucketed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = write_bucketed(orders, "orders_b", ["o_orderkey"], 8,
                       str(base / "orders_b"))
    li = write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", ["o_orderkey"], 8, str(base / "lineitem_b"))
    yield o, li, orders, lineitem
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_cobucketed_join_has_no_exchange(spark, bucketed):
    o, li, *_ = bucketed
    # force the sort-merge path: broadcast would hide the exchange question
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(li, "o_orderkey").groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"))
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        # the ONLY exchange allowed is the one for the final tiny groupBy
        # on o_orderstatus (not a bucket key); the join itself moves nothing
        join_part = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange hashpartitioning" not in join_part, plan
        assert "BroadcastExchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_groupby_on_bucket_key_aggregates_in_place(spark, bucketed):
    _, li, *_ = bucketed
    agg = li.groupBy("o_orderkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    plan = _plan(agg)
    assert "Exchange hashpartitioning" not in plan, plan


def test_bucketed_join_parity_with_plain_join(spark, bucketed):
    o, li, orders, lineitem = bucketed
    got = sorted(
        o.join(li, "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect())
    want = sorted(
        orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect())
    assert got == want and got, got


def test_one_file_per_bucket(spark, bucketed, sf_dir):
    # the repartition-by-key inside write_bucketed keeps file count ==
    # bucket count (writer-task fan-out would give n_tasks * n_buckets
    # small files — the classic bucketed-write footgun)
    import glob
    import os

    loc = [
        r["data_type"] for r in
        spark.sql("DESCRIBE TABLE EXTENDED orders_b").collect()
        if r["col_name"] == "Location"
    ][0]
    files = glob.glob(os.path.join(loc.replace("file:", ""), "*.parquet"))
    assert len(files) == 8, sorted(os.path.basename(f) for f in files)


def test_write_bucketed_arg_validation(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with pytest.raises(ValueError, match="n_buckets"):
        write_bucketed(orders, "t", ["o_orderkey"], 0, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="bucket key"):
        write_bucketed(orders, "t", [], 4, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="not in DataFrame"):
        write_bucketed(orders, "t", ["nope"], 4, str(tmp_path / "t"))


def test_bucketing_null_keys_and_empty_frames(spark, tmp_path):
    """Degenerate audit. (1) plain equi-join on nullable bucketed keys:
    parity with the unbucketed join (nulls dropped identically).
    (2) eqNullSafe on bucketed tables RE-SHUFFLES — the planner does not
    match the bucketed distribution for null-safe equality, so the
    co-location is silently lost (documented trap; sentinel-coalesce
    before bucketing is the fix). (3) sentinel-coalesced bucketing keeps
    BOTH the null matches and the zero-exchange plan. (4) an empty frame
    writes a valid 0-file bucketed table."""
    from pyspark.sql import functions as F

    a = spark.createDataFrame([(None, 1), (1, 2), (2, 3)], "k bigint, v int")
    b = spark.createDataFrame([(None, 10), (1, 20), (3, 30)], "k bigint, w int")
    ab = write_bucketed(a, "deg_a", ["k"], 4, str(tmp_path / "a"))
    bb = write_bucketed(b, "deg_b", ["k"], 4, str(tmp_path / "b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert sorted(ab.join(bb, "k").collect()) == \
            sorted(a.join(b, "k").collect())  # nulls dropped, both paths

        nsafe = ab.join(bb, ab["k"].eqNullSafe(bb["k"]))
        below_join = _plan(nsafe).split("SortMergeJoin", 1)[-1]
        # pinned DOCUMENTATION of the trap: if Spark ever learns to keep
        # the bucketed distribution under eqNullSafe, delete the caveat
        # in bucketing.py and flip this assertion
        assert "Exchange hashpartitioning" in below_join, below_join

        # sentinel coalesce: null-safe SEMANTICS on a plain equi-join
        sent = F.lit(-(1 << 62))
        a2 = a.withColumn("k", F.coalesce("k", sent))
        b2 = b.withColumn("k", F.coalesce("k", sent))
        a2b = write_bucketed(a2, "deg_a2", ["k"], 4, str(tmp_path / "a2"))
        b2b = write_bucketed(b2, "deg_b2", ["k"], 4, str(tmp_path / "b2"))
        sj = a2b.join(b2b, "k")
        assert "Exchange hashpartitioning" not in \
            _plan(sj).split("SortMergeJoin", 1)[-1]
        assert sj.count() == a.join(b, a["k"].eqNullSafe(b["k"])).count() == 2

        empty = spark.createDataFrame([], "k bigint, v int")
        eb = write_bucketed(empty, "deg_e", ["k"], 4, str(tmp_path / "e"))
        assert eb.count() == 0
        described = {r["col_name"]: r["data_type"] for r in
                     spark.sql("DESCRIBE TABLE EXTENDED deg_e").collect()}
        assert described["Num Buckets"] == "4"
        assert eb.join(bb, "k").count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in ("deg_a", "deg_b", "deg_a2", "deg_b2", "deg_e"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_fk_orphan_audit_on_cobucketed_tables_is_shuffle_free(spark, bucketed):
    """The recurring-audit composition: check_referential's engine
    (fk_orphans LeftAnti) over child/parent tables bucketed on the key
    moves ZERO bytes — isNotNull filter and parent key projection both
    preserve the bucketed distribution, so the nightly FK audit of a
    100-TB fact table costs a co-located scan, not a shuffle."""
    from xoverrr_spark.operators.integrity import fk_orphans

    o, li, orders, lineitem = bucketed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orphans = fk_orphans(li, o, ["o_orderkey"])
        plan = _plan(orphans)
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        assert "Exchange" not in plan, plan
        # parity with the unbucketed frames
        expected = fk_orphans(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), orders,
            ["o_orderkey"],
        ).count()
        assert orphans.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
