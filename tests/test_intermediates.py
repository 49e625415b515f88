"""Persisted intermediates live in one place: ``intermediates.scope()``.

Every library persist registers in the innermost open scope and is freed
when that scope exits; functions that materialize their own result open
their own scope, so they leave Spark's cache empty even when no caller
opened one.
"""

import contextvars
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.intermediates import persist, scope

ROOT = Path(__file__).resolve().parents[1]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _no_scope(fn, *args, **kwargs):
    """Run ``fn`` in a fresh context: no enclosing scope is open."""
    return contextvars.Context().run(fn, *args, **kwargs)


def test_scope_nests_and_frees_on_exception(spark):
    spark.catalog.clearCache()
    with scope() as outer:
        a = persist(spark.range(5))
        with pytest.raises(ZeroDivisionError):
            with scope() as inner:
                b = persist(spark.range(7))
                1 / 0
        assert inner == [b] and not b.storageLevel.useMemory
        # the enclosing scope is restored: new frames land in it
        c = persist(spark.range(9))
        assert outer == [a, c] and a.storageLevel.useMemory
    assert _cache_empty(spark)


@pytest.mark.parametrize("name", [
    "candidate_edit_distance_documents",
    "embedding_near_dup_pairs",
    "incremental_dedup_documents",
    "minhash_near_dups_documents",
])
def test_query_leaves_no_cache_after_its_scope(spark, sf_dir, name):
    """The first three queries return a frame derived from an operator's
    result, so nothing tied to the returned frame can find the operator's
    caches; the scope frees them anyway. The minhash query is the control."""
    import __spark_entry__ as entry

    spark.catalog.clearCache()
    with scope() as frames:
        df = entry.queries()[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        assert frames
    assert _cache_empty(spark)


def test_incremental_near_dups_colliding_ids_frees_caches(spark):
    from xoverrr_spark.operators.dedup import incremental_near_dups

    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "one two three four")],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(1, "a colliding new document")], "doc_id bigint, text string")
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="collide"):
        with scope():
            incremental_near_dups(new, corpus, "doc_id", "text",
                                  check_disjoint_ids=True)
    assert _cache_empty(spark)


def test_persist_without_scope_raises(spark):
    with pytest.raises(RuntimeError, match="scope"):
        _no_scope(persist, spark.range(3))


def test_compare_frames_owns_its_scope(spark):
    from xoverrr_spark.operators.diff import compare_frames

    src = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    trg = spark.createDataFrame([(1, "a"), (2, "x")], "k int, v string")
    spark.catalog.clearCache()
    stats, _ = _no_scope(compare_frames, src, trg, ["k"])
    assert stats.comparable_rows == 2 and stats.passed_rows == 1
    assert _cache_empty(spark)


def test_checker_owns_its_scope(spark):
    from xoverrr_spark.checker import QualityChecker

    df = spark.createDataFrame([(1,), (1,), (2,)], "k int")
    spark.catalog.clearCache()
    status, report, _, _ = _no_scope(
        QualityChecker(spark).check_uniqueness, df, ["k"])
    assert status == "failed", report
    assert "failed with error" not in report
    assert _cache_empty(spark)


def test_run_dedup_owns_its_scopes(spark, tmp_path):
    from xoverrr_spark.pipeline.dedup_runner import run_dedup

    base = "the quick brown fox jumps over the lazy dog by the river bank"
    docs = spark.createDataFrame(
        [(i, base + f" tail{i % 2}") for i in range(6)]
        + [(10, "an unrelated document about spark query plans")],
        "doc_id bigint, text string")
    spark.catalog.clearCache()
    summary = _no_scope(run_dedup, spark, docs, str(tmp_path / "dd"),
                        log=lambda *_: None)
    assert summary["verified_pairs"] > 0
    assert _cache_empty(spark)


def test_run_pipeline_owns_its_scopes(spark, tmp_path):
    from xoverrr_spark.fixtures.images import images_df
    from xoverrr_spark.pipeline.runner import run_pipeline

    imgs = images_df(spark, 60, 5)
    both = imgs.unionByName(imgs.limit(1).withColumn("image_id", F.lit("zz_clone")))
    spark.catalog.clearCache()
    summary = _no_scope(
        run_pipeline, spark, both, str(tmp_path / "run"), n_buckets=2,
        write_kept=True, dedup_images=True, concurrency=2)
    assert summary["image_dups_removed"] == 1
    assert summary["total_rows"] == 60
    assert _cache_empty(spark)


def test_persist_lives_only_in_intermediates():
    """Caching goes through ``intermediates.persist`` alone, and the old
    result-attribute release helpers stay gone."""
    owner = ROOT / "xoverrr_spark" / "intermediates.py"
    lib = sorted((ROOT / "xoverrr_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    direct = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in lib if p != owner
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\.(persist|cache|unpersist)\(", line)
    ]
    assert direct == []

    gone = ("_xoverrr_intermediates", "_attach_intermediates",
            "release_intermediates")
    scanned = (
        lib + [ROOT / "bench.py"]
        + sorted((ROOT / "scripts").glob("*.py"))
        + sorted((ROOT / "scripts").glob("*.sh"))
        + sorted((ROOT / "tests").rglob("*.py"))
    )
    left = [
        f"{p.relative_to(ROOT)}: {name}"
        for p in scanned if p != Path(__file__).resolve()
        for name in gone if name in p.read_text()
    ]
    assert left == []
