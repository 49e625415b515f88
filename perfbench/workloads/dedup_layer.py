"""The ``pipeline.dedup_runner`` / ``operators.dedup`` layers, traced inside
filter_batch's traced run: ``run_dedup`` over
``scripts/gen_corpus.corpus_df(n, seed)``. The corpus has a known structure
(10% exact and 10% near duplicates in triples), so there are n/10 clusters
and 0.8·n docs kept. Shingles, MinHash, the LSH self-join and iterative
connected components; stages are told apart through ``run_dedup``'s
``log`` hook, which reports the end of each stage."""

from __future__ import annotations

import json
import os

DOCS = 3_000
# near-dup Jaccard is (L-2)/(L-1) for L words: at 160 words the 4-band
# LSH misses a near-dup pair with p ~ 4e-7, so the closed-form gates hold
# on every seed
DOC_LEN = 160
STAGES = ("signatures", "bucket_stats", "candidates", "pairs", "clusters", "survivors", "kept")

METRICS = {
    "pipeline.dedup_runner.docs_per_s": "docs/s",
    **{f"pipeline.dedup_runner.{s}_s": "s" for s in STAGES},
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.over_cap_docs": "count",
    "operators.dedup.clusters_jobs": "count",
}
# the stages ROADMAP direction 3 targets (LSH join, verify, clustering)
LEGS = {f"dedup.{s}": f"leg.dedup.{s}" for s in ("candidates", "pairs", "clusters")}


def trace_dedup(b, scale: float) -> dict:
    """One ``run_dedup`` with a job group per stage; gated in closed form."""
    from gen_corpus import corpus_df
    from xoverrr_spark.pipeline.dedup_runner import run_dedup

    spark = b.spark
    n = max(200, int(DOCS * scale) // 10 * 10)
    corpus, out = b.new_dir("corpus"), b.new_dir("dedup")
    corpus_df(spark, n, b.seed, doc_len=DOC_LEN).write.parquet(corpus)

    def log(msg: str) -> None:
        # after stage k is written, the jobs that follow belong to stage k+1
        done = msg[len("stage "):].split(":", 1)[0] if msg.startswith("stage ") else None
        if done in STAGES:
            i = STAGES.index(done) + 1
            nxt = STAGES[i] if i < len(STAGES) else "summary"
            spark.sparkContext.setJobGroup(f"dedup.{nxt}", nxt)

    with b.job_group("dedup.signatures"):
        wall, _ = b.timed(run_dedup, spark, spark.read.parquet(corpus), out,
                          resume=False, log=log)
    s = {}
    if wall is not None:
        with open(os.path.join(out, "dedup_summary.json")) as fh:
            s = json.load(fh)
    b.gate("dedup.clusters", s.get("clusters") == n // 10)
    b.gate("dedup.kept_docs", s.get("kept_docs") == n * 8 // 10)
    b.gate("dedup.total_docs", s.get("total_docs") == n)
    walls = s.get("stage_walls_s", {})
    cands = s.get("candidate_pairs", 0)
    return {
        "pipeline.dedup_runner.docs_per_s": n / wall if wall else 0.0,
        **{f"pipeline.dedup_runner.{st}_s": walls.get(st, 0.0) for st in STAGES},
        "operators.dedup.candidate_pairs": cands,
        "operators.dedup.verified_pairs": s.get("verified_pairs", 0),
        "operators.dedup.verify_yield": s.get("verified_pairs", 0) / max(cands, 1),
        "operators.dedup.over_cap_docs": s.get("over_cap_docs", 0),
    }


def dedup_from_legs(legs: dict, metrics: dict) -> None:
    metrics["operators.dedup.clusters_jobs"] = legs.get("dedup.clusters", {}).get("jobs", 0)
