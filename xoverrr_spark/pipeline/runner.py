"""Checkpointed, resumable, bucket-partitioned pipeline runner.

The Spark re-expression of the reference's chunked execution loop
(``/root/reference/src/xoverrr/core.py:1447-1483`` ``_iter_date_chunks`` +
per-chunk accumulators ``core.py:1508-1640``) and run persistence
(``/root/reference/src/xoverrr/persistence.py:236-341``): the unit of work
is one **phash bucket** (standing in for an Iceberg partition) instead of a
date window; per-bucket completion markers replace the implicit
chunk cursor, so a rerun skips finished buckets — idempotent resume.

Scale design (10^12 images, per north_rule):

- ``bucket = pmod(phash, n_buckets)`` is the partition key; on a real
  Iceberg deployment this is the table's partition spec and each bucket job
  prunes to one partition (predicate pushdown, no full scan).
- Skewed language clusters concentrate in few phash buckets, so each bucket
  job **explicitly salts**: repartition by ``xxhash64(image_id)``
  spreads a hot bucket across the whole cluster. The pipeline itself is
  map-only, so this is the only shuffle — and it is optional
  (``salt_partitions=0`` disables it when input file splits are already even).
- Outputs are written per bucket with dynamic-overwrite semantics (a rerun
  of a bucket replaces exactly its own files): decisions, a per-reason
  metrics table, and a lineage row (run_id, timings, row counts) — the
  normalized split of the reference's ~60-column audit row (R5).

Directory layout under ``output_dir``::

    decisions/bucket=<i>/   part-*.parquet   (image_id, lang, ..., keep)
    kept/bucket=<i>/        curated records (--write-kept)
    metrics/bucket=<i>/     per-reason issue counts
    metrics_lang/bucket=<i>/   per-language keep counts
    metrics_image/bucket=<i>/  pixel-side quality aggregates (--image-stats)
    lineage/bucket=<i>/     one row per completed bucket run
    _checkpoints/bucket_<i>.json             completion marker (atomic rename)
    _run_params.json    n_buckets + image-dedup settings; a resume that
                        changes them raises (pipeline/resume.py)

A fresh start (``resume=False``) removes the per-bucket directories above
before any bucket runs and leaves everything else in ``output_dir`` alone.

``spark-submit --py-files xoverrr_spark.zip -m`` entry at the bottom.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..intermediates import persist, scope
from ..operators.sniff import drop_reason_breakdown
from ..session import local_rows
from .quality_filter import quality_filter
from .resume import pin_run_params, write_json_atomic


def build_run_id() -> str:
    # same shape as the reference's run ids (persistence.py:51-53)
    return uuid.uuid4().hex[:16]


def _ckpt_path(output_dir: str, bucket: int) -> str:
    return os.path.join(output_dir, "_checkpoints", f"bucket_{bucket}.json")


def completed_buckets(output_dir: str) -> dict[int, dict]:
    d = os.path.join(output_dir, "_checkpoints")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith("bucket_") and name.endswith(".json"):
                with open(os.path.join(d, name)) as fh:
                    out[int(name[len("bucket_"):-len(".json")])] = json.load(fh)
    return out


# every directory _run_bucket writes bucket by bucket
_BUCKET_OUTPUTS = (
    "decisions", "kept", "metrics", "metrics_lang", "metrics_image", "lineage",
    "_checkpoints",
)


def _run_bucket(
    spark: SparkSession,
    bucketed: DataFrame,
    output_dir: str,
    run_id: str,
    b: int,
    salt_partitions: int,
    write_kept: bool = False,
    ppl_udf_override=None,
    files_per_bucket: int | None = None,
    image_stats: bool = False,
) -> dict:
    """One bucket's unit of work: filter -> salt -> pipeline -> decisions +
    metrics + lineage + completion marker. Safe to run concurrently with
    other buckets (all outputs are bucket-scoped paths). ``write_kept``
    additionally writes the CURATED records (kept rows with every input
    column incl. the binary payload) under kept/bucket=<b> — the product
    a downstream training job actually consumes.

    ``ppl_udf_override`` swaps the embedded perplexity scorer for an
    artifact-backed one (functions/models.artifact_ppl_udf) — same
    (string)->double contract, wired from the CLI via ``--ppl-artifact``.

    Small-files guard: the tiny per-bucket aggregates (metrics,
    metrics_lang, lineage) always write ONE file each — by default they'd
    emit one near-empty file per shuffle partition, and a 4096-bucket run
    would drown the output dir in ~100k stub files. ``files_per_bucket``
    additionally sizes the decisions/kept outputs to exactly N files each
    (round-robin repartition; leave None to keep one file per salt task
    when buckets are large enough that those files are well-sized)."""
    t0 = time.time()
    part = bucketed.filter(F.col("bucket") == b).drop("bucket")
    if salt_partitions > 1:
        # explicit skew salting: hot buckets spread over the cluster.
        # Repartition by the full-cardinality hash, NOT pmod(hash, k):
        # k distinct salt values get murmur3-hashed again and collide,
        # leaving partitions empty (observed 4/8 filled).
        part = part.repartition(salt_partitions, F.xxhash64("image_id"))
    from ..sources import write_parquet_sized

    dec_path = os.path.join(output_dir, "decisions", f"bucket={b}")
    # this bucket's own scope: pool threads start with no scope open
    with scope():
        if write_kept:
            from .quality_filter import OUTPUT_COLUMNS, annotate

            # ONE annotate feeds both outputs (persisted: branches of a plan
            # never share execution); decisions stay the decision projection
            ann = persist(annotate(part, ppl_udf_override=ppl_udf_override))
            decisions = ann.select(*OUTPUT_COLUMNS)
        else:
            decisions = quality_filter(part, ppl_udf_override=ppl_udf_override)
        write_parquet_sized(decisions, dec_path, target_files=files_per_bucket)
        if write_kept:
            write_parquet_sized(
                ann.filter("keep"),
                os.path.join(output_dir, "kept", f"bucket={b}"),
                target_files=files_per_bucket,
            )

    dec_out = spark.read.parquet(dec_path)
    metrics = drop_reason_breakdown(dec_out).withColumn("run_id", F.lit(run_id))
    write_parquet_sized(
        metrics, os.path.join(output_dir, "metrics", f"bucket={b}"), target_files=1
    )
    # per-language keep metrics: the skew the north rule calls out lives in
    # language clusters, so drop-rate regressions must be visible per lang
    lang_metrics = (
        dec_out.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("keep"), 1)).alias("n_keep"),
        ).withColumn("run_id", F.lit(run_id))
    )
    write_parquet_sized(
        lang_metrics,
        os.path.join(output_dir, "metrics_lang", f"bucket={b}"),
        target_files=1,
    )
    if image_stats:
        # pixel-side quality metrics (the caption filter never decodes
        # pixels, so this is the bucket's only decode pass unless the
        # phash pre-stage ran): decode-failure count + sharpness/entropy
        # aggregates per bucket — the observability a 10^12-image feed
        # needs to catch a corrupted shard or a blur regression per
        # partition, not per run
        from ..operators.multimodal import sharpness_stats

        istats = (
            sharpness_stats(part)
            .agg(
                F.count(F.lit(1)).alias("n_images"),
                F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_decode_failed"),
                F.avg("sharpness").alias("mean_sharpness"),
                F.min("sharpness").alias("min_sharpness"),
                F.avg("entropy").alias("mean_entropy"),
            )
            .withColumn("run_id", F.lit(run_id))
        )
        write_parquet_sized(
            istats,
            os.path.join(output_dir, "metrics_image", f"bucket={b}"),
            target_files=1,
        )
    counts = dec_out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("keep"), 1)).alias("n_keep"),
    ).collect()[0]
    t1 = time.time()
    row = {
        "run_id": run_id,
        "bucket": b,
        "n_rows": int(counts["n_rows"]),
        "n_keep": int(counts["n_keep"]),
        "started_at": t0,
        "finished_at": t1,
        "duration_s": t1 - t0,
        "skipped": False,
    }
    local_rows(
        spark,
        [(run_id, b, row["n_rows"], row["n_keep"], row["duration_s"])],
        "run_id string, bucket int, n_rows long, n_keep long, duration_s double",
    ).write.mode("overwrite").parquet(os.path.join(output_dir, "lineage", f"bucket={b}"))
    write_json_atomic(_ckpt_path(output_dir, b), row)
    return row


def _drop_image_near_dups(
    spark: SparkSession,
    images: DataFrame,
    output_dir: str,
    resume: bool,
    max_hamming: int = 2,
) -> tuple[DataFrame, int]:
    """Optional pre-stage: collapse perceptually near-duplicate IMAGES to
    one survivor per cluster before any caption work — re-encoded copies
    of one image would otherwise each pay langid/ppl/rules and multiply
    into the kept corpus. Operates on the EXISTING ``phash`` column (the
    north-rule input carries one; no decode). Dropped ids + their survivor
    are written to ``image_dups/`` (resumable via _SUCCESS), and the
    returned frame is the input minus the dropped ids (left_anti — the
    survivor keeps flowing)."""
    from ..operators.dedup import cluster_near_dups
    from ..operators.multimodal import phash_near_dups

    path = os.path.join(output_dir, "image_dups")
    if not (resume and os.path.exists(os.path.join(path, "_SUCCESS"))):
        with scope():
            pairs = phash_near_dups(images, max_hamming=max_hamming)
            labels = cluster_near_dups(
                pairs.select(F.col("img_a").alias("doc_a"), F.col("img_b").alias("doc_b"))
            )
        surv = labels.groupBy("cluster_id").agg(F.min("doc_id").alias("survivor_id"))
        dropped = (
            labels.join(surv, "cluster_id")
            .filter(F.col("doc_id") != F.col("survivor_id"))
            .select(F.col("doc_id").alias("image_id"), "survivor_id")
        )
        dropped.write.mode("overwrite").parquet(path)
    dropped = spark.read.parquet(path)
    n = dropped.count()
    return images.join(dropped.select("image_id"), "image_id", "left_anti"), n



def stage_bucketed_input(
    spark: SparkSession, images: DataFrame, output_dir: str, n_buckets: int,
    resume: bool = True,
) -> DataFrame:
    """ONE pass over the input written as bucket-partitioned parquet — the
    local stand-in for an Iceberg phash-bucket partition spec (W5 r01).

    Every bucket job then filters on the PARTITION column, so the scan
    prunes to 1/n_buckets of the files (asserted in
    tests/test_plans.py::test_runner_bucket_scan_is_partition_pruned)
    instead of re-scanning the whole input per bucket. On a real Iceberg
    deployment whose table is already partitioned by phash bucket, skip
    this (``stage_input=False``) and pass the table directly — the pruning
    is then native. On resume the staged copy is reused (it is part of the
    run's snapshot state); a fresh run rewrites it.
    """
    staged = os.path.join(output_dir, "staging")
    if not (resume and os.path.exists(os.path.join(staged, "_SUCCESS"))):
        (
            images.withColumn(
                "bucket", F.pmod(F.col("phash"), F.lit(n_buckets)).cast("int")
            )
            .write.mode("overwrite").partitionBy("bucket").parquet(staged)
        )
    return spark.read.parquet(staged)


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    output_dir: str,
    n_buckets: int = 16,
    salt_partitions: int | None = None,
    resume: bool = True,
    tolerance_drop_pct: float = 100.0,
    concurrency: int = 1,
    stage_input: bool = True,
    write_kept: bool = False,
    dedup_images: bool = False,
    image_dedup_hamming: int = 2,
    ppl_udf_override=None,
    files_per_bucket: int | None = None,
    image_stats: bool = False,
    _fail_after_bucket: int | None = None,
) -> dict:
    """Run the quality filter bucket-by-bucket with checkpointed resume.

    ``concurrency > 1`` submits that many bucket jobs at once from driver
    threads — the Spark scheduler interleaves their stages, keeping the
    cluster busy when single buckets are too small to saturate it (each
    bucket's outputs and marker are bucket-scoped, so completion stays
    idempotent per bucket). Returns a summary dict (run_id, totals, status,
    per-bucket lineage). ``_fail_after_bucket`` injects a crash after that
    bucket completes (kill/resume tests only).
    """
    if image_stats:
        missing = [c for c in ("bytes", "fmt") if c not in images.columns]
        if missing:
            raise ValueError(
                f"image_stats needs the binary payload columns {missing} "
                "(a decisions-only input has no pixels to score)"
            )
    # bucket membership (staged input, markers) depends on these
    pin_run_params(
        output_dir, resume, n_buckets=n_buckets, dedup_images=dedup_images,
        image_dedup_hamming=image_dedup_hamming if dedup_images else None,
    )
    if not resume:
        # a bucket only overwrites its own outputs, so a fresh start with
        # fewer buckets would leave the old run's higher buckets behind
        for name in _BUCKET_OUTPUTS:
            path = os.path.join(output_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
    run_id = build_run_id()
    if salt_partitions is None:
        salt_partitions = spark.sparkContext.defaultParallelism
    done = completed_buckets(output_dir) if resume else {}
    n_image_dups = 0
    if dedup_images:
        images, n_image_dups = _drop_image_near_dups(
            spark, images, output_dir, resume, image_dedup_hamming
        )
    if stage_input:
        bucketed = stage_bucketed_input(spark, images, output_dir, n_buckets, resume)
    elif "bucket" in images.columns:
        # source already carries a physical bucket partition column
        # (Iceberg partition spec) — filters on it prune natively
        bucketed = images
    else:
        # derived column — NO pruning (every bucket job re-scans the input);
        # only for small inputs / tests
        bucketed = images.withColumn(
            "bucket", F.pmod(F.col("phash"), F.lit(n_buckets)).cast("int")
        )

    lineage = [{**done[b], "skipped": True} for b in range(n_buckets) if b in done]
    todo = [b for b in range(n_buckets) if b not in done]
    if concurrency > 1 and _fail_after_bucket is None:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            rows = pool.map(
                lambda b: _run_bucket(
                    spark, bucketed, output_dir, run_id, b, salt_partitions,
                    write_kept, ppl_udf_override, files_per_bucket,
                    image_stats,
                ),
                todo,
            )
            lineage.extend(rows)
    else:
        for b in todo:
            lineage.append(
                _run_bucket(
                    spark, bucketed, output_dir, run_id, b, salt_partitions,
                    write_kept, ppl_udf_override, files_per_bucket,
                    image_stats,
                )
            )
            if _fail_after_bucket is not None and b >= _fail_after_bucket:
                raise RuntimeError(f"injected failure after bucket {b}")

    total = sum(r["n_rows"] for r in lineage)
    kept = sum(r["n_keep"] for r in lineage)
    drop_pct = (100.0 * (total - kept) / total) if total else 0.0
    status = "success" if drop_pct <= tolerance_drop_pct else "failed"
    summary = {
        "run_id": run_id,
        "n_buckets": n_buckets,
        "total_rows": total,
        "kept_rows": kept,
        "image_dups_removed": n_image_dups,
        "drop_pct": drop_pct,
        "status": status,
        "lineage": lineage,
    }
    # run envelope on disk next to the outputs (reference persists one audit
    # row per run, persistence.py:236; here: summary json + the lineage/
    # metrics parquet dirs written per bucket above)
    write_json_atomic(os.path.join(output_dir, "run_summary.json"), summary)
    return summary


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="xoverrr_spark quality-filter runner")
    ap.add_argument("--input", help="images table: a parquet path, "
                    "'iceberg:catalog.db.table', or 'table:name'")
    ap.add_argument("--snapshot-id", type=int, default=None,
                    help="pin an Iceberg snapshot for reproducible resume")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate a deterministic N-row fixture instead of --input")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--salt", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--concurrency", type=int, default=1,
                    help="bucket jobs submitted concurrently (driver threads)")
    ap.add_argument("--verify-golden", action="store_true",
                    help="(synthetic input only) diff decisions against the "
                    "independent golden labeler and report F1 + score")
    ap.add_argument("--tolerance", type=float, default=100.0)
    ap.add_argument("--dedup-images", action="store_true",
                    help="pre-stage: collapse perceptual near-dup images "
                    "(phash hamming <= --image-dedup-hamming) to one "
                    "survivor before filtering; dropped ids -> image_dups/")
    ap.add_argument("--image-dedup-hamming", type=int, default=2)
    ap.add_argument("--write-kept", action="store_true",
                    help="also write curated records (kept rows, all input "
                    "columns incl. payload) under kept/bucket=N")
    ap.add_argument("--ppl-artifact",
                    help="path to a trained char-LM .npz artifact "
                    "(functions/models.train_char_bigram_artifact); shipped "
                    "to executors via SparkContext.addFile and swapped in "
                    "for the embedded perplexity table — no code change "
                    "needed to run with a production-trained scorer")
    ap.add_argument("--image-stats", action="store_true",
                    help="also write per-bucket pixel-side quality metrics "
                    "(decode failures, sharpness/entropy aggregates) under "
                    "metrics_image/bucket=N — catches a corrupted shard or "
                    "blur regression per partition")
    ap.add_argument("--files-per-bucket", type=int, default=None,
                    help="size decisions/kept outputs to exactly N parquet "
                    "files per bucket (small-files guard for many-bucket "
                    "runs); default keeps one file per salt task")
    args = ap.parse_args(argv)

    from ..session import get_spark

    spark = get_spark("xoverrr_runner")
    if args.synthetic:
        from ..fixtures.images import images_df

        images = images_df(spark, args.synthetic, args.seed)
    elif args.input:
        from ..sources import load_table

        images = load_table(spark, args.input, args.snapshot_id)
    else:
        ap.error("need --input or --synthetic N")
    ppl_override = None
    if args.ppl_artifact:
        from ..functions.models import artifact_ppl_udf

        spark.sparkContext.addFile(args.ppl_artifact)
        ppl_override = artifact_ppl_udf(os.path.basename(args.ppl_artifact))
    summary = run_pipeline(
        spark, images, args.output, args.buckets,
        salt_partitions=args.salt, resume=not args.no_resume,
        tolerance_drop_pct=args.tolerance, concurrency=args.concurrency,
        write_kept=args.write_kept, dedup_images=args.dedup_images,
        image_dedup_hamming=args.image_dedup_hamming,
        ppl_udf_override=ppl_override, files_per_bucket=args.files_per_bucket,
        image_stats=args.image_stats,
    )
    if args.verify_golden:
        if not args.synthetic:
            ap.error("--verify-golden requires --synthetic (labels are derived)")
        summary["verification"] = verify_against_golden(
            spark, args.output, args.synthetic, args.seed
        )
    print(json.dumps({k: v for k, v in summary.items() if k != "lineage"}))


def verify_against_golden(spark, output_dir: str, n: int, seed: int) -> dict:
    """The quality loop closed: diff the run's decisions against the
    independent golden labeler via the diff engine itself (the reference's
    compare_dataframes repurposed as the F1 harness, SURVEY.md mapping)."""
    from ..fixtures.images import generate_images_pdf
    from ..fixtures.labeler import label_frame
    from ..operators.diff import compare_frames

    golden_pdf = label_frame(generate_images_pdf(n, seed, with_bytes=False))[
        ["image_id", "keep", "caption_scrubbed"]
    ]
    golden = spark.createDataFrame(golden_pdf)
    ours = spark.read.parquet(os.path.join(output_dir, "decisions")).select(
        "image_id", "keep", "caption_scrubbed"
    )
    stats, _ = compare_frames(ours, golden, ["image_id"])
    tp = ours.alias("o").join(golden.alias("g"), "image_id").filter(
        "o.keep AND g.keep").count()
    ours_keep = ours.filter("keep").count()
    golden_keep = golden.filter("keep").count()
    precision = tp / ours_keep if ours_keep else 1.0
    recall = tp / golden_keep if golden_keep else 1.0
    f1 = (2 * precision * recall / (precision + recall)) if (precision + recall) else 0.0
    return {
        "keep_f1": f1,
        "diff_score": stats.final_score,
        "matched_rows": stats.passed_rows,
        "comparable_rows": stats.comparable_rows,
    }


if __name__ == "__main__":
    main()
