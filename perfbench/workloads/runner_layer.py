"""The ``pipeline.runner`` layer, traced over the first ``ROWS`` rows of
the filter_batch caption table: ``stage_bucketed_input``, then a fresh
``run_pipeline`` over the phash buckets (bucket 0 holds the fixture's hot
45% cluster), then half of the completion markers are deleted and
``run_pipeline(resume=True)`` redoes those buckets. The per-row work is the
filter's; the runner adds a salting shuffle, several Spark jobs, marker
files and lineage per bucket, and the hot-bucket straggler."""

from __future__ import annotations

import json
import os

from harness import median

BUCKETS = 2
# the runner's cost is per bucket (about 14 Spark jobs each), not per row;
# a quarter of the table keeps the traced run within its time limit
ROWS = 10_000
# fixed (not seeded): every seed reruns the hot bucket
RERUN = [0]

METRICS = {
    "pipeline.runner.stage_input_s": "s",
    "pipeline.runner.fresh_wall_s": "s",
    "pipeline.runner.resume_wall_s": "s",
    "pipeline.runner.bucket_p50_s": "s",
    "pipeline.runner.bucket_max_s": "s",
    "pipeline.runner.jobs_per_bucket": "count",
    "pipeline.runner.files_written": "count",
    "pipeline.runner.bytes_written": "bytes",
    "pipeline.runner.buckets_rerun": "count",
}
LEGS = {
    "runner_stage": "leg.runner_stage",
    "runner_buckets": "leg.runner_buckets",
    "runner_resume": "leg.runner_resume",
}


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _summary(out: str) -> dict:
    with open(os.path.join(out, "run_summary.json")) as fh:
        return json.load(fh)


def _decisions(spark, out: str) -> tuple[set, int]:
    rows = spark.read.parquet(os.path.join(out, "decisions")).select("image_id", "keep").collect()
    return {r["image_id"] for r in rows}, sum(1 for r in rows if r["keep"])


def trace_runner(b, images_path: str, n: int) -> dict:
    """Stage, fresh run and resume, each under its own job group; the
    resumed output is gated against the fresh one."""
    from pyspark.sql import functions as F
    from xoverrr_spark.pipeline.runner import run_pipeline, stage_bucketed_input

    spark = b.spark
    n = min(n, ROWS)
    # image ids are img_00000000, img_00000001, ...: the first n rows
    images = spark.read.parquet(images_path).where(F.col("image_id") < f"img_{n:08d}")
    stage_root, out = b.new_dir("stage"), b.new_dir("run")
    with b.job_group("runner_stage"):
        stage_s, staged = b.timed(
            stage_bucketed_input, spark, images, stage_root, BUCKETS, resume=False,
        )

    def run(resume: bool):
        return run_pipeline(spark, staged, out, BUCKETS, resume=resume,
                            concurrency=1, stage_input=False)

    with b.job_group("runner_buckets"):
        fresh_s, fresh = b.timed(run, False)
    files, size = _tree_size(out)
    before = b.op(_decisions, spark, out)
    for bucket in RERUN:
        os.remove(os.path.join(out, "_checkpoints", f"bucket_{bucket}.json"))
    with b.job_group("runner_resume"):
        resume_s, resumed = b.timed(run, True)
    after = b.op(_decisions, spark, out)

    b.gate("runner.fresh_total_rows", fresh is not None and fresh["total_rows"] == n)
    b.gate("runner.resume_total_rows", resumed is not None and resumed["total_rows"] == n)
    b.gate("runner.resume_ids", before is not None and after is not None
           and before[0] == after[0] and len(after[0]) == n)
    b.gate("runner.resume_n_keep", before is not None and after is not None
           and resumed is not None and before[1] == after[1] == resumed["kept_rows"])
    rerun = sorted(r["bucket"] for r in _summary(out)["lineage"] if not r["skipped"])
    b.gate("runner.buckets_rerun", rerun == RERUN)
    durs = [r["duration_s"] for r in fresh["lineage"]] if fresh else [0.0]
    return {
        "pipeline.runner.stage_input_s": stage_s,
        "pipeline.runner.fresh_wall_s": fresh_s,
        "pipeline.runner.resume_wall_s": resume_s,
        "pipeline.runner.bucket_p50_s": median(durs),
        "pipeline.runner.bucket_max_s": max(durs),
        "pipeline.runner.files_written": files,
        "pipeline.runner.bytes_written": size,
        "pipeline.runner.buckets_rerun": len(rerun),
    }


def runner_from_legs(legs: dict, metrics: dict) -> None:
    metrics["pipeline.runner.jobs_per_bucket"] = (
        legs.get("runner_buckets", {}).get("jobs", 0) / BUCKETS)
