"""Plan-shape assertions for the incremental ingestion dedup path."""


def test_incremental_near_dups_no_shingle_join_no_self_join(spark):
    from pyspark.sql import functions as F
    from xoverrr_spark.operators.dedup import incremental_near_dups

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = corpus.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    nd = incremental_near_dups(new, corpus, "doc_id", "text")
    plan = nd._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert join_lines, plan
    # verify stage must stay candidate-bounded: no join keyed on
    # shingle_hash (the full co-occurrence join) anywhere
    assert not any("shingle_hash" in l for l in join_lines), join_lines


def test_bloom_decontaminate_positions_join_is_broadcast(spark):
    from pyspark.sql import functions as F
    from xoverrr_spark.operators.dedup import bloom_contaminated_docs

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    plan = bloom_contaminated_docs(d, bench, "doc_id", "text")._jdf\
        .queryExecution().executedPlan().toString()
    # the corpus side must reach the position check via broadcast — never a
    # shuffle of the corpus's exploded positions
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q5_star_join_broadcasts_dimensions(spark):
    import __spark_entry__ as e
    plan = e.queries()["q5_local_supplier_volume"](spark, "/root/testdata/sf0.001")\
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # the two fact-fact joins shuffle; dims must NOT force extra SMJs:
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 3, plan


def test_q3_filters_reach_the_scans(spark):
    import __spark_entry__ as e
    plan = e.queries()["q3_shipping_priority"](spark, "/root/testdata/sf0.001")\
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "pushedFilters" in plan, plan[:2000]
    for frag in ("c_mktsegment", "o_orderdate", "l_shipdate"):
        assert frag in plan, frag


def test_shingle_table_is_a_pure_map(spark):
    """The hottest stage of every dedup pipeline must stay shuffle-free:
    per-word hashing + the rolling fold are row-local."""
    from xoverrr_spark.operators.dedup import shingle_table
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = shingle_table(d, "doc_id", "text")._jdf.queryExecution()\
        .executedPlan().toString()
    assert "Exchange" not in plan, plan
