"""AQE skew-join splitting: when it saves you and when it silently won't.

At 100 TB a hot join key turns one shuffle partition into a multi-GB
straggler; AQE's OptimizeSkewedJoin splits it at runtime. Two facts
pinned here (both measured, both surprising enough to regress):

1. On a bare skewed sort-merge join the split fires —
   ``SortMergeJoin(skew=true)`` + ``AQEShuffleRead .. skewed`` in the
   final adaptive plan.
2. THE TRAP: if the join feeds an aggregation keyed like the join
   (the dominant shape in this repo — join then groupBy), AQE will NOT
   split the skewed partition, because splitting breaks the join's
   hash-partitioning guarantee and would force an extra shuffle for the
   agg. ``spark.sql.adaptive.forceOptimizeSkewedJoin=true`` opts into
   that trade — the right call when the straggler dominates the extra
   shuffle, i.e. almost always at real skew.

Also note: read the executed plan AFTER an action on the SAME
QueryExecution (``collect``); a ``noop`` write runs a different one and
shows isFinalPlan=false with no skew markers (cost two probe rounds).
"""

import pytest
from pyspark.sql import functions as F

_CONF = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "false",
    # skew detection reads COMPRESSED shuffle-block bytes, so whether the
    # hot partition clears the threshold depends on partition count and
    # payload compressibility — pin the count these facts were measured
    # at (the conftest default, but a library entry point clobbering the
    # session conf once made this flake in full-suite runs only)
    "spark.sql.shuffle.partitions": "4",
}


@pytest.fixture()
def skew_conf(spark):
    old = {k: spark.conf.get(k, None) for k in _CONF}
    for k, v in _CONF.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def _skewed_frames(spark):
    # 90% of the left side lands on key 0 -> one hot shuffle partition
    a = spark.range(2_000_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("v"))
    b = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    return a, b


def _final_plan_after_collect(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    return plan


def test_aqe_splits_bare_skewed_join(spark, skew_conf):
    a, b = _skewed_frames(spark)
    plan = _final_plan_after_collect(a.join(b, "k"))
    assert "skew=true" in plan, plan


def test_aqe_skew_split_suppressed_by_downstream_agg(spark, skew_conf):
    a, b = _skewed_frames(spark)
    agg = a.join(b, "k").groupBy("k").agg(F.sum("w").alias("s"))
    plan = _final_plan_after_collect(agg)
    # pinned DOCUMENTATION: the default planner keeps the straggler
    # rather than add a shuffle for the agg. If Spark changes this
    # default, update the AQE skew guidance in session.py and flip the
    # assertion.
    assert "skew=true" not in plan, plan

    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    agg2 = a.join(b, "k").groupBy("k").agg(F.sum("w").alias("s"))
    plan2 = _final_plan_after_collect(agg2)
    assert "skew=true" in plan2, plan2
    # and forcing never changes results
    assert sorted(agg2.collect()) == sorted(agg.collect())


def test_skew_detection_blind_to_compressible_constant_key(spark, skew_conf):
    """THIRD pinned fact (found when fact 2's pin flaked at a different
    partition count): AQE's skew detection reads compressed shuffle-block
    BYTES, not row counts. When column pruning reduces the skewed side to
    just the constant join key (join -> agg that uses no other left
    column), the hot partition — 1.8M identical longs — compresses to
    almost nothing, and at a high-enough partition count it falls under
    skewedPartitionThresholdInBytes: NO split, even with
    forceOptimizeSkewedJoin. At 100 TB the consequence is real: a
    row-count straggler whose payload compresses well (constant/low-
    cardinality columns) is invisible to byte-based skew detection —
    if the hot key's work is row-bound (CPU, UDF, agg), salt it
    explicitly (operators/salting.py) instead of relying on AQE."""
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    a, b = _skewed_frames(spark)
    # drop v from the plan: sum(w) uses only right-side payload, so the
    # left shuffle carries the constant key alone
    agg = a.join(b, "k").groupBy("k").agg(F.sum("w").alias("s"))
    plan = _final_plan_after_collect(agg)
    assert "skew=true" not in plan, plan
    # same shape with the incompressible left payload kept in the agg:
    # the hot block's bytes now clear the threshold and the split fires
    agg2 = a.join(b, "k").groupBy("k").agg(F.sum("w").alias("s"),
                                           F.sum("v").alias("sv"))
    plan2 = _final_plan_after_collect(agg2)
    assert "skew=true" in plan2, plan2
