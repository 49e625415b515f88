"""Deterministic split assignment, cross-split leakage audit, and
token-budget mixture planning (operators/splits.py).

The split hash math also has a DuckDB twin (split_case_sql) verified by
the oracle queries; these tests pin the Python-side semantics the oracle
parity cannot see: determinism across partitionings, exhaustiveness,
config validation, and the degenerate inputs (null ids, null texts,
unweighted sources, zero budgets).
"""

import pytest
from pyspark.sql import Row, functions as F

from xoverrr_spark.operators.splits import (
    SPLIT_SPACE,
    assign_splits,
    split_case_sql,
    split_leakage,
    split_thresholds,
    token_budget_mixture,
)

FR = {"train": 0.8, "val": 0.1, "test": 0.1}


def test_split_thresholds_validation():
    with pytest.raises(ValueError):
        split_thresholds({})
    with pytest.raises(ValueError):
        split_thresholds({"train": 0.5, "val": 0.4})  # sum != 1
    with pytest.raises(ValueError):
        split_thresholds({"train": 1.5, "val": -0.5})  # non-positive
    with pytest.raises(ValueError):
        split_thresholds({"": 1.0})  # empty name
    ths = split_thresholds(FR)
    assert ths[-1] == ("test", SPLIT_SPACE)  # exhaustive by construction
    assert [n for n, _ in ths] == ["train", "val", "test"]
    assert all(t > 0 for _, t in ths)
    assert sorted(t for _, t in ths) == [t for _, t in ths]


def test_assign_splits_disjoint_exhaustive_and_proportional(spark):
    n = 5000
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    out = assign_splits(df, "doc_id", FR, seed=7)
    counts = {r["split"]: r["c"] for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert sum(counts.values()) == n  # exhaustive: every row exactly one split
    assert set(counts) == {"train", "val", "test"}
    # md5 is uniform: at n=5000 each fraction lands within a loose band
    assert abs(counts["train"] / n - 0.8) < 0.05
    assert abs(counts["val"] / n - 0.1) < 0.03
    assert abs(counts["test"] / n - 0.1) < 0.03


def test_assign_splits_deterministic_across_partitionings(spark):
    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a = assign_splits(df.repartition(1), "doc_id", FR, seed=3)
    b = assign_splits(df.repartition(13), "doc_id", FR, seed=3)
    rows_a = {r["doc_id"]: r["split"] for r in a.collect()}
    rows_b = {r["doc_id"]: r["split"] for r in b.collect()}
    assert rows_a == rows_b  # unlike randomSplit: partitioning-independent
    c = assign_splits(df, "doc_id", FR, seed=4)
    rows_c = {r["doc_id"]: r["split"] for r in c.collect()}
    assert rows_a != rows_c  # a new seed re-rolls the assignment


def test_assign_splits_null_ids_one_deterministic_split(spark):
    df = spark.createDataFrame(
        [Row(doc_id=None), Row(doc_id=None), Row(doc_id=1)],
        "doc_id bigint",
    )
    out = assign_splits(df, "doc_id", FR, seed=0).collect()
    null_splits = {r["split"] for r in out if r["doc_id"] is None}
    assert len(null_splits) == 1  # sentinel: all null ids travel together
    assert None not in {r["split"] for r in out}


def test_assign_splits_rejects_existing_column(spark):
    df = spark.range(3).withColumnRenamed("id", "doc_id").withColumn("split", F.lit("x"))
    with pytest.raises(ValueError):
        assign_splits(df, "doc_id", FR)


def test_split_case_sql_matches_spark(spark):
    """The DuckDB CASE twin replays the identical assignment."""
    duckdb = pytest.importorskip("duckdb")
    df = spark.range(300).withColumnRenamed("id", "doc_id")
    ours = {r["doc_id"]: r["split"] for r in assign_splits(df, "doc_id", FR, seed=11).collect()}
    con = duckdb.connect()
    sql = split_case_sql("doc_id", FR, seed=11)
    got = dict(
        con.execute(
            f"SELECT doc_id, {sql} FROM (SELECT UNNEST(range(300)) AS doc_id)"
        ).fetchall()
    )
    assert ours == got


def test_split_leakage_reports_cross_split_dups_only(spark):
    rows = [
        Row(doc_id=1, text="shared dup text", split="train"),
        Row(doc_id=2, text="  SHARED   dup TEXT ", split="test"),  # fp-equal
        Row(doc_id=3, text="train only dup", split="train"),
        Row(doc_id=4, text="train only dup", split="train"),  # same split: no leak
        Row(doc_id=5, text="unique", split="val"),
    ]
    df = spark.createDataFrame(rows)
    out = split_leakage(df, "doc_id", "text", "split").collect()
    leaked = {r["doc_id"] for r in out}
    assert leaked == {1, 2}
    assert all(r["n_splits"] == 2 and r["splits"] == "test,train" for r in out)


def test_split_leakage_null_texts_leak_together(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text=None, split="train"), Row(doc_id=2, text=None, split="test")],
        "doc_id bigint, text string, split string",
    )
    out = split_leakage(df, "doc_id", "text", "split").collect()
    assert {r["doc_id"] for r in out} == {1, 2}  # null texts are dups of each other


def test_split_leakage_null_split_counted_not_skipped(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="t", split=None), Row(doc_id=2, text="t", split="train")],
        "doc_id bigint, text string, split string",
    )
    out = split_leakage(df, "doc_id", "text", "split").collect()
    assert {r["doc_id"] for r in out} == {1, 2}
    assert all(r["n_splits"] == 2 for r in out)


def test_split_leakage_empty_when_no_cross_split_dups(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a", split="train"), Row(doc_id=2, text="b", split="test")]
    )
    assert split_leakage(df, "doc_id", "text", "split").count() == 0


def _mix_fixture(spark):
    rows = []
    for i in range(10):
        rows.append(Row(doc_id=i, source="web", text="w " * 10))  # 10 tokens each
    for i in range(10, 14):
        rows.append(Row(doc_id=i, source="books", text="b " * 50))  # 50 tokens each
    rows.append(Row(doc_id=99, source="empty", text="   "))  # 0 tokens
    rows.append(Row(doc_id=98, source=None, text="n n n"))  # null source
    rows.append(Row(doc_id=97, source="unweighted", text="u u"))
    return spark.createDataFrame(rows)


def test_token_budget_mixture_golden(spark):
    df = _mix_fixture(spark)
    out = {
        r["source"]: r
        for r in token_budget_mixture(
            df, "source", "text", {"web": 0.75, "books": 0.25, "empty": 0.0}, 120
        ).collect()
    }
    # web: 100 tokens available, target floor(120*0.75)=90 -> ppm 900000
    assert out["web"]["n_tokens"] == 100 and out["web"]["target_tokens"] == 90
    assert out["web"]["rate_ppm"] == 900_000 and out["web"]["planned_tokens"] == 90
    # books: 200 available, target 30 -> ppm 150000
    assert out["books"]["rate_ppm"] == 150_000 and out["books"]["planned_tokens"] == 30
    # default mode never repeats a source
    assert all(r["epochs"] == 0 for r in out.values())
    # zero-weight, zero-token, null and unweighted sources all VISIBLE with rate 0
    for s in ("empty", None, "unweighted"):
        assert out[s]["rate_ppm"] == 0 and out[s]["target_tokens"] == 0
    assert out["empty"]["n_tokens"] == 0


def test_token_budget_mixture_under_supplied_source_capped(spark):
    df = _mix_fixture(spark)
    out = {
        r["source"]: r
        for r in token_budget_mixture(df, "source", "text", {"books": 1.0}, 10_000).collect()
    }
    b = out["books"]
    assert b["target_tokens"] == 10_000 and b["n_tokens"] == 200
    assert b["rate_ppm"] == 1_000_000  # capped at keep-everything
    assert b["planned_tokens"] == 200  # plan exposes the shortfall
    assert b["epochs"] == 0


def test_token_budget_mixture_null_text_source_plans_nothing(spark):
    """An all-null-text source sums to a null ``n_tokens``. Spark's
    ``least`` skips nulls, so an ungated capped plan would promise it its
    full target."""
    nulls = spark.createDataFrame(
        [(96, "nulls", None)], "doc_id long, source string, text string")
    df = _mix_fixture(spark).unionByName(nulls)
    for upsample in (False, True):
        out = {
            r["source"]: r
            for r in token_budget_mixture(
                df, "source", "text", {"nulls": 1.0, "web": 1.0}, 100,
                allow_upsample=upsample,
            ).collect()
        }
        n = out["nulls"]
        assert n["n_tokens"] is None and n["target_tokens"] == 50
        assert (n["planned_tokens"], n["rate_ppm"], n["epochs"]) == (0, 0, 0), upsample
        assert out["web"]["planned_tokens"] == 50


def test_token_budget_mixture_upsample_epochs(spark):
    df = _mix_fixture(spark)
    out = {
        r["source"]: r
        for r in token_budget_mixture(
            df, "source", "text", {"books": 1.0}, 750, allow_upsample=True
        ).collect()
    }
    b = out["books"]  # 200 tokens available, target 750 = 3 epochs + 150/200
    assert b["epochs"] == 3 and b["rate_ppm"] == 750_000
    assert b["planned_tokens"] == 750  # upsampling delivers the full target
    # zero-token source cannot be repeated either
    assert out["empty"]["epochs"] == 0 and out["empty"]["rate_ppm"] == 0
    assert out["empty"]["planned_tokens"] == 0


def test_token_budget_mixture_validation(spark):
    df = _mix_fixture(spark)
    with pytest.raises(ValueError):
        token_budget_mixture(df, "source", "text", {"web": 1.0}, -1)
    with pytest.raises(ValueError):
        token_budget_mixture(df, "source", "text", {"web": -1.0}, 10)
    with pytest.raises(ValueError):
        token_budget_mixture(df, "source", "text", {"web": 1.0}, 1 << 60)
    # zero budget: all targets 0, no division blowups
    out = token_budget_mixture(df, "source", "text", {"web": 1.0}, 0).collect()
    assert all(r["rate_ppm"] == 0 for r in out)


def test_assemble_dataset_quarantine_direction_and_budget(spark):
    from xoverrr_spark.intermediates import scope
    from xoverrr_spark.operators.splits import assemble_dataset, assign_splits

    # 60 docs over 3 sources; doc 0..59. Make doc 7's text duplicate
    # doc 8's (independent hash streams decide their splits).
    rows = []
    for i in range(60):
        text = "dup leak text" if i in (7, 8) else f"doc {i} body " + "w " * i
        rows.append(Row(doc_id=i, text=text, source=f"s{i % 3}"))
    df = spark.createDataFrame(rows)
    fr = {"train": 0.5, "val": 0.25, "test": 0.25}
    weights = {"s0": 1.0, "s1": 1.0}  # s2 unweighted -> sampled out visibly
    with scope() as frames:
        out = assemble_dataset(df, "doc_id", "text", "source", fr, weights, 10_000, seed=5)
        rows_out = out.collect()
    assert len(frames) == 1  # the persisted split-assigned corpus

    splits = {r["doc_id"]: r["split"] for r in
              assign_splits(df, "doc_id", fr, seed=5).collect()}
    got = {(r["doc_id"], r["split"]) for r in rows_out}
    # quarantine: if 7 and 8 landed in different splits, the TRAIN copy
    # is dropped and the eval copy kept
    if splits[7] != splits[8]:
        for d in (7, 8):
            if splits[d] == "train":
                assert (d, "train") not in got
            else:
                assert (d, splits[d]) in got
    # budget 10k >> supply: every weighted-train doc survives sampling
    for d, s in splits.items():
        if s == "train" and d not in (7, 8):
            src = f"s{d % 3}"
            assert ((d, "train") in got) == (src in weights)
    # eval splits are never sampled: all non-leaked val/test docs present
    for d, s in splits.items():
        if s != "train" and d not in (7, 8):
            assert (d, s) in got


def test_assemble_dataset_deterministic(spark):
    from xoverrr_spark.operators.splits import assemble_dataset

    df = spark.range(200).selectExpr(
        "id AS doc_id", "concat('text ', id) AS text",
        "concat('s', id % 4) AS source")
    fr = {"train": 0.8, "val": 0.2}
    w = {"s0": 1.0, "s1": 1.0, "s2": 1.0, "s3": 1.0}
    a = assemble_dataset(df.repartition(3), "doc_id", "text", "source", fr, w, 300, seed=9)
    b = assemble_dataset(df.repartition(11), "doc_id", "text", "source", fr, w, 300, seed=9)
    ra = sorted((r["doc_id"], r["split"]) for r in a.collect())
    rb = sorted((r["doc_id"], r["split"]) for r in b.collect())
    assert ra == rb and len(ra) > 0


def test_near_dup_pair_leakage_detector_agnostic(spark):
    from xoverrr_spark.operators.splits import near_dup_pair_leakage

    pairs = spark.createDataFrame(
        [
            Row(doc_a=1, doc_b=2, jaccard=0.9),   # cross-split -> kept
            Row(doc_a=3, doc_b=4, jaccard=0.8),   # same split -> dropped
            Row(doc_a=1, doc_b=99, jaccard=0.7),  # 99 unattributable -> dropped
        ]
    )
    splits = spark.createDataFrame(
        [Row(doc_id=1, split="train"), Row(doc_id=2, split="test"),
         Row(doc_id=3, split="val"), Row(doc_id=4, split="val")]
    )
    out = near_dup_pair_leakage(pairs, splits, "doc_id", "split").collect()
    assert [(r["doc_a"], r["doc_b"], r["split_a"], r["split_b"]) for r in out] == [
        (1, 2, "train", "test")
    ]
    assert out[0]["jaccard"] == 0.9  # detector columns ride through


def test_token_budget_mixture_rejects_mixed_sign_weights(spark):
    # a negative weight deflates sum(weights) and silently INFLATES every
    # other source's target — must raise even when the sum stays positive
    df = _mix_fixture(spark)
    with pytest.raises(ValueError, match="negative"):
        token_budget_mixture(
            df, "source", "text", {"web": 1.0, "books": -0.5}, 100)


def test_near_dup_pair_leakage_null_split_is_cross_split(spark):
    from xoverrr_spark.operators.splits import near_dup_pair_leakage

    pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=3, doc_b=4)])
    splits = spark.createDataFrame(
        [Row(doc_id=1, split=None), Row(doc_id=2, split="train"),
         Row(doc_id=3, split=None), Row(doc_id=4, split=None)],
        "doc_id bigint, split string",
    )
    out = near_dup_pair_leakage(pairs, splits, "doc_id", "split").collect()
    # null vs 'train' IS a cross-split pair (unknown split != train);
    # null vs null is not
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(1, 2)]


def test_split_thresholds_rejects_unrepresentable_fraction():
    # a fraction so small it rounds to zero 60-bit width would create a
    # silently unreachable split — raise at plan time instead
    with pytest.raises(ValueError, match="unreachable"):
        split_thresholds({"a": 0.5, "b": 1e-22, "c": 0.5})


def test_assign_splits_group_keyed_never_straddles(spark):
    # key on the GROUP column: every doc of a source shares a split
    df = spark.range(300).selectExpr("id AS doc_id", "concat('s', id % 7) AS source")
    out = assign_splits(df, "source", FR, seed=2)
    assert out.groupBy("source").agg(
        F.countDistinct("split").alias("k")).filter("k > 1").count() == 0


def test_split_case_sql_escapes_quotes():
    sql = split_case_sql("doc_id", {"tr'ain": 0.5, "test": 0.5}, seed=0)
    assert "'tr''ain'" in sql  # quote-doubled, not a broken literal
