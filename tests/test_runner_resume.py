"""Kill/resume: a crashed run resumed must equal a fresh single run
(the Spark analogue of the reference's chunked==unchunked equivalence,
/root/reference/tests/integration/self_db/postgres/test_postgres_chunking_yearly.py:64).
"""

import glob

import pytest

from xoverrr_spark.fixtures.images import images_df
from xoverrr_spark.pipeline.runner import completed_buckets, run_pipeline

N = 800
BUCKETS = 4


def _decisions(spark, out):
    return (
        spark.read.parquet(f"{out}/decisions")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )


def test_kill_and_resume_equals_fresh(spark, tmp_path):
    images = images_df(spark, N, 42)

    fresh = tmp_path / "fresh"
    s1 = run_pipeline(spark, images, str(fresh), n_buckets=BUCKETS)
    assert s1["total_rows"] == N
    assert len(completed_buckets(str(fresh))) == BUCKETS

    crashy = tmp_path / "crashy"
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, images, str(crashy), n_buckets=BUCKETS, _fail_after_bucket=1)
    assert len(completed_buckets(str(crashy))) == 2  # buckets 0,1 done

    s2 = run_pipeline(spark, images, str(crashy), n_buckets=BUCKETS)  # resume
    skipped = [r for r in s2["lineage"] if r.get("skipped")]
    assert len(skipped) == 2, "resume must skip completed buckets"
    assert s2["total_rows"] == N and s2["kept_rows"] == s1["kept_rows"]

    a, b = _decisions(spark, str(fresh)), _decisions(spark, str(crashy))
    assert a["image_id"].tolist() == b["image_id"].tolist()
    assert a["keep"].tolist() == b["keep"].tolist()
    assert a["caption_scrubbed"].tolist() == b["caption_scrubbed"].tolist()


def test_resume_with_other_bucket_count_raises(spark, tmp_path):
    """The staged input and the bucket markers were built for 8 buckets;
    resuming with 4 would only visit staged partitions 0-3 and drop the
    rest of the rows without an error."""
    images = images_df(spark, N, 42)
    out = str(tmp_path / "o")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, images, out, n_buckets=8, _fail_after_bucket=1)
    with pytest.raises(ValueError, match="n_buckets: 8 -> 4"):
        run_pipeline(spark, images, out, n_buckets=4)
    assert sorted(completed_buckets(out)) == [0, 1]


def test_fresh_start_with_fewer_buckets_drops_old_bucket_outputs(spark, tmp_path):
    """Buckets 4-7 of an 8-bucket run are not part of a fresh 4-bucket run
    into the same directory: none of their outputs may survive it."""
    images = images_df(spark, N, 42)
    out = tmp_path / "o"
    run_pipeline(spark, images, str(out), n_buckets=8)
    (out / "notes.txt").write_text("not the runner's")
    s = run_pipeline(spark, images, str(out), n_buckets=4, resume=False)
    assert s["total_rows"] == N
    assert len(_decisions(spark, str(out))) == N
    assert sorted(completed_buckets(str(out))) == [0, 1, 2, 3]
    for sub in ("decisions", "metrics", "metrics_lang", "lineage"):
        assert sorted(p.name for p in (out / sub).glob("bucket=*")) == [
            f"bucket={b}" for b in range(4)
        ], sub
    assert (out / "notes.txt").read_text() == "not the runner's"


def test_rerun_of_done_bucket_is_idempotent(spark, tmp_path):
    images = images_df(spark, 300, 7)
    out = tmp_path / "o"
    run_pipeline(spark, images, str(out), n_buckets=2)
    before = sorted(glob.glob(f"{out}/decisions/bucket=0/*.parquet"))
    s = run_pipeline(spark, images, str(out), n_buckets=2)  # all skipped
    assert all(r["skipped"] for r in s["lineage"])
    assert sorted(glob.glob(f"{out}/decisions/bucket=0/*.parquet")) == before


def test_lineage_and_metrics_written(spark, tmp_path):
    images = images_df(spark, 300, 7)
    out = tmp_path / "o"
    s = run_pipeline(spark, images, str(out), n_buckets=2)
    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    assert set(lin["bucket"]) == {0, 1}
    assert lin["n_rows"].sum() == 300
    met = spark.read.parquet(f"{out}/metrics").toPandas()
    assert {"reason", "issue_count", "run_id"} <= set(met.columns)
    # per-language keep metrics (skewed language clusters per north rule)
    lm = spark.read.parquet(f"{out}/metrics_lang").toPandas()
    assert {"lang", "n_rows", "n_keep", "run_id"} <= set(lm.columns)
    assert lm["n_rows"].sum() == 300
    assert (lm["n_keep"] <= lm["n_rows"]).all()
    assert "en" in set(lm["lang"])
    assert s["status"] == "success"
    # one clock read ends a bucket: its duration is exactly the span
    # between its recorded start and finish
    for r in s["lineage"]:
        assert r["duration_s"] == r["finished_at"] - r["started_at"]


def test_concurrent_buckets_equal_serial(spark, tmp_path):
    images = images_df(spark, 600, 13)
    serial, conc = tmp_path / "ser", tmp_path / "conc"
    s1 = run_pipeline(spark, images, str(serial), n_buckets=4, concurrency=1)
    s2 = run_pipeline(spark, images, str(conc), n_buckets=4, concurrency=4)
    assert s1["total_rows"] == s2["total_rows"] == 600
    assert s1["kept_rows"] == s2["kept_rows"]
    a, b = _decisions(spark, str(serial)), _decisions(spark, str(conc))
    assert a["image_id"].tolist() == b["image_id"].tolist()
    assert a["keep"].tolist() == b["keep"].tolist()


def test_write_kept_outputs_curated_records(spark, tmp_path):
    from xoverrr_spark.fixtures.images import images_df
    from xoverrr_spark.pipeline.runner import run_pipeline

    out = str(tmp_path / "kept_run")
    images = images_df(spark, 200, 31)
    summary = run_pipeline(spark, images, out, n_buckets=4, write_kept=True)
    kept = spark.read.parquet(f"{out}/kept")
    assert kept.count() == summary["kept_rows"]
    # curated records carry the FULL input row (payload included) + decisions
    for c in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash",
              "keep", "drop_reasons", "caption_scrubbed"):
        assert c in kept.columns, c
    assert kept.filter("NOT keep").count() == 0
    dec = spark.read.parquet(f"{out}/decisions")
    assert dec.filter("keep").count() == kept.count()


def test_dedup_images_prestage_removes_clones(spark, tmp_path):
    from pyspark.sql import functions as F
    from xoverrr_spark.fixtures.images import images_df
    from xoverrr_spark.pipeline.runner import run_pipeline

    imgs = images_df(spark, 120, 11)
    # three phash-identical re-encodes of img 0 + one at hamming 1
    base = imgs.limit(1)
    clones = (
        base.withColumn("image_id", F.lit("zz_clone_a"))
        .unionByName(base.withColumn("image_id", F.lit("zz_clone_b")))
        .unionByName(
            base.withColumn("image_id", F.lit("zz_clone_c"))
            .withColumn("phash", F.col("phash").bitwiseXOR(F.lit(1)))
        )
    )
    both = imgs.unionByName(clones)
    out = str(tmp_path / "dd_run")
    summary = run_pipeline(spark, both, out, n_buckets=4, dedup_images=True)
    assert summary["image_dups_removed"] == 3
    assert summary["total_rows"] == 120  # the min-id original survived
    dropped = spark.read.parquet(f"{out}/image_dups")
    got = {r.image_id: r.survivor_id for r in dropped.collect()}
    assert set(got) == {"zz_clone_a", "zz_clone_b", "zz_clone_c"}
    assert set(got.values()) == {"img_00000000"}
    # decisions never saw the clones
    dec = spark.read.parquet(f"{out}/decisions")
    assert dec.filter(F.col("image_id").startswith("zz_")).count() == 0


def test_files_per_bucket_bounds_output_file_count(spark, tmp_path):
    """Small-files guard (r03 verdict #8): with files_per_bucket=1 every
    bucket writes exactly one decisions/kept part file, and the tiny
    per-bucket aggregates (metrics, metrics_lang) write one file each
    regardless — a 4096-bucket run must not emit a file per shuffle
    partition per output."""
    out = str(tmp_path / "sized_run")
    images = images_df(spark, 400, 7)
    run_pipeline(spark, images, out, n_buckets=BUCKETS, write_kept=True,
                 files_per_bucket=1)
    for sub in ("decisions", "kept", "metrics", "metrics_lang"):
        for b in range(BUCKETS):
            parts = glob.glob(f"{out}/{sub}/bucket={b}/part-*.parquet")
            assert len(parts) == 1, (sub, b, parts)
    # results still read back whole
    assert spark.read.parquet(f"{out}/decisions").count() == 400


def test_runner_cli_ppl_artifact_matches_embedded_scorer(spark, tmp_path):
    """--ppl-artifact wired end-to-end (r03 verdict #7): a CLI run with a
    char-LM artifact trained on the built-in seed corpus produces
    bit-identical decisions AND ppl scores to the embedded-table run."""
    import pandas as pd

    from xoverrr_spark.functions.models import train_char_bigram_artifact
    from xoverrr_spark.functions.perplexity import _SEED_CORPUS
    from xoverrr_spark.pipeline.runner import main

    art = str(tmp_path / "charlm.npz")
    train_char_bigram_artifact(_SEED_CORPUS, art)

    out_a = str(tmp_path / "with_artifact")
    out_b = str(tmp_path / "embedded")
    main(["--synthetic", "120", "--seed", "5", "--output", out_a,
          "--buckets", "2", "--ppl-artifact", art])
    main(["--synthetic", "120", "--seed", "5", "--output", out_b,
          "--buckets", "2"])

    cols = ["image_id", "ppl", "keep", "drop_reasons"]
    a = (spark.read.parquet(f"{out_a}/decisions").select(cols).toPandas()
         .sort_values("image_id").reset_index(drop=True))
    b = (spark.read.parquet(f"{out_b}/decisions").select(cols).toPandas()
         .sort_values("image_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_image_stats_metrics_written(spark, tmp_path):
    """--image-stats writes per-bucket pixel-side quality aggregates;
    a payload-less input is a config error, not a silent no-op."""
    images = images_df(spark, 200, 7)
    out = tmp_path / "istats"
    run_pipeline(spark, images, str(out), n_buckets=2, image_stats=True)
    m = spark.read.parquet(f"{out}/metrics_image").toPandas()
    assert len(m) == 2  # one aggregate row per bucket
    assert m["n_images"].sum() == 200
    assert (m["n_decode_failed"] == 0).all()
    assert (m["mean_sharpness"] > 0).all() and (m["mean_entropy"] > 0).all()
    assert set(m.columns) >= {"n_images", "n_decode_failed", "mean_sharpness",
                              "min_sharpness", "mean_entropy", "run_id"}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="payload"):
        run_pipeline(spark, images.drop("bytes"), str(tmp_path / "x"),
                     n_buckets=2, image_stats=True)
