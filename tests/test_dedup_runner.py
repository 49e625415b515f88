"""Staged dedup job: results equal the direct operator composition, and a
resumed run skips completed stages instead of recomputing them."""

import json
import os

from pyspark.sql import functions as F

from xoverrr_spark.pipeline.dedup_runner import run_dedup


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_staged_dedup_matches_direct_composition(spark, tmp_path):
    from xoverrr_spark.functions.tokens import quality_score
    from xoverrr_spark.operators.dedup import (
        cluster_near_dups,
        cluster_survivors,
        minhash_near_dups,
    )

    out = str(tmp_path / "dedup_run")
    docs = _docs(spark)
    summary = run_dedup(
        spark, docs, out, jaccard_threshold=0.8, log=lambda *_: None
    )

    pairs = minhash_near_dups(docs, "doc_id", "text", jaccard_threshold=0.8)
    labels = cluster_near_dups(pairs)
    scores = docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality_score")
    )
    direct = {
        (r["doc_id"], r["cluster_id"])
        for r in cluster_survivors(labels, scores).collect()
    }
    staged = {
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(os.path.join(out, "survivors")).collect()
    }
    assert staged == direct
    assert summary["clusters"] == len(direct)
    assert summary["kept_docs"] == summary["total_docs"] - (
        summary["clustered_docs"] - summary["clusters"]
    )
    # the cap audit is part of the job output, not a silent setting
    assert os.path.exists(os.path.join(out, "bucket_stats", "_SUCCESS"))
    assert "over_cap_docs" in summary
    assert summary["capped"] is True
    with open(os.path.join(out, "dedup_summary.json")) as fh:
        assert json.load(fh) == summary


def test_staged_dedup_uncapped_audit_is_flagged_advisory(spark, tmp_path):
    """max_bucket_size=None disables the cap — the summary still audits
    bucket sizes vs the default cap, but marks capped=false so over_cap
    counts read as advisory, not as dropped pairs (r03 ADVICE)."""
    from xoverrr_spark.operators.dedup import DEFAULT_MAX_BUCKET
    out = str(tmp_path / "dedup_nocap")
    summary = run_dedup(
        spark, _docs(spark), out, jaccard_threshold=0.8,
        max_bucket_size=None, log=lambda *_: None,
    )
    assert summary["capped"] is False
    assert summary["max_bucket_size"] is None
    assert summary["audited_cap"] == DEFAULT_MAX_BUCKET


def test_staged_dedup_resume_skips_completed_stages(spark, tmp_path):
    out = str(tmp_path / "dedup_resume")
    docs = _docs(spark)
    run_dedup(spark, docs, out, jaccard_threshold=0.8, log=lambda *_: None)

    skipped = []
    run_dedup(
        spark, docs, out, jaccard_threshold=0.8,
        log=lambda m: skipped.append(m),
    )
    assert sum("skipping" in m for m in skipped) == 7  # all seven stages


def test_staged_dedup_resume_with_other_split_seed_raises(spark, tmp_path):
    """splits/ was assigned under seed 7; a resume under seed 8 must not
    report seed 8 next to seed 7's split counts."""
    import pytest

    out = str(tmp_path / "dedup_reseed")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    run_dedup(spark, _docs(spark), out, jaccard_threshold=0.8,
              log=lambda *_: None, split_fractions=fr, split_seed=7)
    logs = []
    with pytest.raises(ValueError, match="split_seed: 7 -> 8"):
        run_dedup(spark, _docs(spark), out, jaccard_threshold=0.8,
                  log=logs.append, split_fractions=fr, split_seed=8)
    assert logs == []  # raised before any stage was looked at


# ------------------------------------------------- incremental ingestion ----

def _batch(spark):
    """1/3 exact copies, 1/3 near-dups (appended tokens), 1/3 fresh."""
    d = _docs(spark)
    m = F.col("doc_id") % 3
    return d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(m == 0, F.col("text"))
        .when(m == 1, F.concat(F.col("text"), F.lit(" zqx zqy")))
        .otherwise(F.concat(F.lit("fresh item "), F.col("doc_id").cast("string"),
                            F.lit(" nothing shared")))
        .alias("text"),
    )


def test_incremental_job_matches_direct_operators(spark, tmp_path):
    from xoverrr_spark.operators.dedup import (
        fingerprint_index, incremental_exact_dedup, incremental_near_dups)
    from xoverrr_spark.pipeline.dedup_runner import (
        build_dedup_index, run_incremental_dedup)

    corpus, batch = _docs(spark), _batch(spark)
    idx = str(tmp_path / "index")
    out = str(tmp_path / "batch1")
    build_dedup_index(spark, corpus, idx, log=lambda *_: None)
    summary = run_incremental_dedup(spark, batch, idx, out,
                                    log=lambda *_: None)

    surv = incremental_exact_dedup(
        batch, fingerprint_index(corpus, "doc_id", "text"), "doc_id", "text")
    near = incremental_near_dups(surv, corpus, "doc_id", "text")
    near_ids = {r.new_id for r in near.select("new_id").distinct().collect()}
    direct_accept = {r.doc_id for r in surv.collect()} - near_ids

    staged_accept = {
        r.doc_id for r in spark.read.parquet(f"{out}/accepted").collect()}
    assert staged_accept == direct_accept
    assert summary["accepted"] == len(direct_accept)
    assert summary["exact_dropped"] > 0 and summary["near_dup_dropped"] > 0
    # the delta carries exactly the accepted docs' index rows
    delta_fp = spark.read.parquet(f"{out}/index_delta/fingerprints")
    assert delta_fp.count() == len(direct_accept)  # fresh texts are unique
    delta_sig = spark.read.parquet(f"{out}/index_delta/signatures")
    assert {r.doc_id for r in delta_sig.select("doc_id").collect()} == staged_accept


def test_incremental_job_resume_skips_done_stages(spark, tmp_path):
    from xoverrr_spark.pipeline.dedup_runner import (
        build_dedup_index, run_incremental_dedup)

    corpus, batch = _docs(spark), _batch(spark)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "run")
    build_dedup_index(spark, corpus, idx, log=lambda *_: None)
    run_incremental_dedup(spark, batch, idx, out, log=lambda *_: None)
    msgs = []
    run_incremental_dedup(spark, batch, idx, out, log=msgs.append)
    assert sum("skipping" in m for m in msgs) == 6  # all six stages skipped

    # stages built under other parameters are not reused
    import pytest
    with pytest.raises(ValueError, match="bands: 4 -> 8"):
        run_incremental_dedup(spark, batch, idx, out, bands=8, log=msgs.append)
    with pytest.raises(ValueError, match="num_hashes: 16 -> 32"):
        build_dedup_index(spark, corpus, idx, num_hashes=32, log=msgs.append)
    assert sum("skipping" in m for m in msgs) == 6


def test_two_batch_ingestion_loop_closure(spark, tmp_path):
    """Batch 2 re-submitting docs ACCEPTED in batch 1 must see them as
    corpus dups once the index delta is appended — the loop is closed."""
    from xoverrr_spark.pipeline.dedup_runner import (
        append_index_delta, build_dedup_index, run_incremental_dedup)

    corpus = _docs(spark)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, corpus, idx, log=lambda *_: None)

    b1 = _batch(spark)
    out1 = str(tmp_path / "b1")
    s1 = run_incremental_dedup(spark, b1, idx, out1, log=lambda *_: None)
    assert s1["accepted"] > 0
    append_index_delta(spark, idx, f"{out1}/index_delta")

    # batch 2 = exact copies of batch 1's ACCEPTED docs under new ids
    accepted = spark.read.parquet(f"{out1}/accepted")
    b2 = accepted.selectExpr("doc_id + 5000000 AS doc_id", "text")
    out2 = str(tmp_path / "b2")
    s2 = run_incremental_dedup(spark, b2, idx, out2, log=lambda *_: None)
    assert s2["accepted"] == 0
    assert s2["exact_dropped"] == s1["accepted"]


def test_full_dedup_writes_kept_corpus(spark, tmp_path):
    from pyspark.sql import functions as F
    from xoverrr_spark.pipeline.dedup_runner import run_dedup
    d = _docs(spark)
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 900000).alias("doc_id"), "text",
                 "lang", "source", "n_chars"))
    out = str(tmp_path / "full")
    summary = run_dedup(spark, doubled, out, jaccard_threshold=0.8,
                        log=lambda *_: None)
    kept = spark.read.parquet(f"{out}/kept")
    assert kept.count() == summary["kept_docs"]
    assert set(kept.columns) == set(doubled.columns)   # FULL rows
    # every exact clone pair collapsed to one survivor
    assert kept.count() <= d.count() + 50


def test_staged_dedup_with_assembly_stages(spark, tmp_path):
    import pytest

    from xoverrr_spark.operators.splits import assign_splits

    out = str(tmp_path / "dedup_splits")
    docs = _docs(spark)
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}

    # config errors raise BEFORE any stage runs
    with pytest.raises(ValueError):
        run_dedup(spark, docs, str(tmp_path / "bad"), log=lambda *_: None,
                  split_fractions={"train": 0.5})
    assert not os.path.exists(str(tmp_path / "bad" / "signatures"))

    summary = run_dedup(
        spark, docs, out, jaccard_threshold=0.8, log=lambda *_: None,
        split_fractions=fr, split_seed=7,
    )
    for stage in ("splits", "split_leakage"):
        assert os.path.exists(os.path.join(out, stage, "_SUCCESS"))
    # the staged assignment == direct assign_splits over the kept corpus
    kept = spark.read.parquet(os.path.join(out, "kept"))
    direct = {
        (r["doc_id"], r["split"])
        for r in assign_splits(kept, "doc_id", fr, seed=7)
        .select("doc_id", "split").collect()
    }
    staged = {
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(os.path.join(out, "splits")).collect()
    }
    assert staged == direct and len(staged) == summary["kept_docs"]
    assert sum(summary["split_counts"].values()) == summary["kept_docs"]
    assert summary["split_seed"] == 7
    # exact dups were just removed, so residual exact leakage must be 0
    assert summary["leaked_docs"] == 0

    # resume: all stages (incl. assembly) skip
    logs = []
    run_dedup(spark, docs, out, jaccard_threshold=0.8, log=logs.append,
              split_fractions=fr, split_seed=7)
    assert sum("skipping" in m for m in logs) == 9  # 7 dedup + 2 assembly

    # without fractions the assembly stages don't exist
    out2 = str(tmp_path / "dedup_plain")
    s2 = run_dedup(spark, docs, out2, jaccard_threshold=0.8, log=lambda *_: None)
    assert not os.path.exists(os.path.join(out2, "splits"))
    assert "split_counts" not in s2
