"""Staged, resumable corpus-dedup job — the dedup counterpart of
``pipeline.runner`` (which runs the quality filter).

Five stages, each materialized to parquet under the output dir; a stage
whose output already carries parquet's ``_SUCCESS`` marker is skipped on
resume, so a killed run restarts from the first incomplete stage instead
of re-shingling the corpus:

    signatures/    (doc_id, mh_0..mh_{k-1})        MinHash signatures
    bucket_stats/  (band, n_buckets, ...)          the "no silent caps" audit
    candidates/    (doc_a, doc_b)                  capped-LSH candidate pairs
    pairs/         (doc_a, doc_b, jaccard)         exact-verified near-dups
    clusters/      (doc_id, cluster_id)            connected components
    survivors/     (doc_id, cluster_id, quality_score)  best doc per cluster

A resume with parameters other than the ones recorded on the fresh start
raises (``pipeline/resume.py``) instead of reusing stages built under the
old ones.

Staging between stages is also what a 100 TB run needs operationally: the
signature/candidate tables are the natural retry+audit boundaries, and
writing them keeps each stage's shuffle lineage short. Each stage builds
and writes inside one ``intermediates.scope()``, which frees the stage's
persisted in-op caches.

Beyond-reference operator composition (round brief); job shape mirrors the
reference's runner conventions (checkpointed stages, one summary JSON).
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokens import quality_score
from ..intermediates import scope
from ..operators import dedup as D
from .resume import pin_run_params, write_json_atomic


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _stage(
    name: str, out_dir: str, resume: bool, build, log,
    walls: dict | None = None,
) -> str:
    path = os.path.join(out_dir, name)
    if resume and _done(path):
        log(f"stage {name}: complete, skipping")
        return path
    t0 = time.time()
    with scope():
        build().write.mode("overwrite").parquet(path)
    wall = time.time() - t0
    if walls is not None:
        walls[name] = round(wall, 2)
    log(f"stage {name}: wrote {path} in {wall:.1f}s")
    return path


def run_dedup(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = D.DEFAULT_MAX_BUCKET,
    resume: bool = True,
    log=print,
    split_fractions: dict[str, float] | None = None,
    split_seed: int = 0,
) -> dict:
    if split_fractions is not None:
        # config errors raise BEFORE any stage runs (not after an hour of
        # signatures) — same plan-time-validation rule as the checker
        from ..operators.splits import split_thresholds

        split_thresholds(split_fractions)
    pin_run_params(
        output_dir, resume, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold, max_bucket_size=max_bucket_size,
        split_fractions=split_fractions,
        split_seed=split_seed if split_fractions is not None else None,
    )
    walls: dict = {}

    sig_p = _stage(
        "signatures", output_dir, resume,
        lambda: D.minhash_signature(docs, id_col, text_col, num_hashes, shingle_n),
        log, walls=walls,
    )
    sig = spark.read.parquet(sig_p)

    _stage(
        "bucket_stats", output_dir, resume,
        lambda: D.lsh_bucket_stats(
            sig, num_hashes, bands, max_bucket_size or D.DEFAULT_MAX_BUCKET
        ),
        log, walls=walls,
    )

    cand_p = _stage(
        "candidates", output_dir, resume,
        lambda: D.lsh_candidate_pairs(sig, num_hashes, bands, max_bucket_size),
        log, walls=walls,
    )
    cands = spark.read.parquet(cand_p)

    def _pairs():
        j = D.candidate_jaccard(docs, id_col, text_col, cands, shingle_n)
        return j.filter(F.col("jaccard") >= jaccard_threshold).select(
            "doc_a", "doc_b", "jaccard"
        )

    pairs_p = _stage("pairs", output_dir, resume, _pairs, log, walls=walls)
    pairs = spark.read.parquet(pairs_p)

    clus_p = _stage(
        "clusters", output_dir, resume,
        lambda: D.cluster_near_dups(pairs.select("doc_a", "doc_b")),
        log, walls=walls,
    )
    clusters = spark.read.parquet(clus_p)

    def _survivors():
        scores = docs.select(
            F.col(id_col).alias("doc_id"),
            quality_score(F.col(text_col)).alias("quality_score"),
        )
        return D.cluster_survivors(clusters, scores)

    surv_p = _stage("survivors", output_dir, resume, _survivors, log, walls=walls)

    def _kept():
        # the PRODUCT: full rows of the deduped corpus — unclustered docs
        # pass through, clustered docs keep only their chosen survivor.
        # One anti-join against the (small) dropped-id set; the corpus is
        # never shuffled on its own columns.
        surv_ids = spark.read.parquet(surv_p).select("doc_id")
        dropped = clusters.join(surv_ids, "doc_id", "left_anti").select(
            F.col("doc_id").alias(id_col)
        )
        return docs.join(dropped, id_col, "left_anti")

    kept_p = _stage("kept", output_dir, resume, _kept, log, walls=walls)

    split_summary: dict = {}
    if split_fractions is not None:
        # optional assembly stages over the DEDUPED corpus: deterministic
        # split assignment (compact id->split projection — the corpus is
        # not rewritten; consumers join or re-derive, the hash is
        # content-deterministic either way) and the cross-split leakage
        # audit (near-dups the jaccard threshold let through can still
        # straddle splits; exact dups can't — they were just removed —
        # so this audits the RESIDUAL exact leakage a resumed/partial
        # dedup could leave, and doubles as the wiring a near-dup
        # leakage pass reuses).
        from ..operators.splits import assign_splits, split_leakage

        def _splits():
            kept_rows = spark.read.parquet(kept_p)
            return assign_splits(
                kept_rows, id_col, split_fractions, seed=split_seed
            ).select(id_col, "split")

        _stage("splits", output_dir, resume, _splits, log, walls=walls)

        def _leakage():
            kept_rows = spark.read.parquet(kept_p)
            with_split = assign_splits(
                kept_rows, id_col, split_fractions, seed=split_seed
            )
            return split_leakage(with_split, id_col, text_col, "split")

        leak_p = _stage(
            "split_leakage", output_dir, resume, _leakage, log, walls=walls
        )
        split_rows = spark.read.parquet(os.path.join(output_dir, "splits"))
        split_counts = {
            r["split"]: int(r["c"])
            for r in split_rows.groupBy("split").agg(
                F.count(F.lit(1)).alias("c")).collect()
        }
        split_summary = {
            "split_fractions": split_fractions,
            "split_seed": split_seed,
            "split_counts": split_counts,
            "leaked_docs": spark.read.parquet(leak_p).count(),
        }

    # summary: clustered docs collapse to one survivor each; docs never
    # paired (the vast majority) are implicitly their own survivor
    n_docs = docs.count()
    n_clustered = clusters.count()
    n_clusters = spark.read.parquet(surv_p).count()
    stats_rows = spark.read.parquet(os.path.join(output_dir, "bucket_stats")).collect()
    summary = {
        "total_docs": n_docs,
        "candidate_pairs": cands.count(),
        "verified_pairs": pairs.count(),
        "clustered_docs": n_clustered,
        "clusters": n_clusters,
        "kept_docs": n_docs - n_clustered + n_clusters,
        "dup_pct": round((n_clustered - n_clusters) * 100.0 / n_docs, 3) if n_docs else 0.0,
        "jaccard_threshold": jaccard_threshold,
        "max_bucket_size": max_bucket_size,
        "stage_walls_s": walls,
        # The bucket_stats stage always audits against SOME cap so a
        # cap-disabled run still reports how big its buckets got — but
        # when the cap is off, those are advisory counts vs the default
        # cap, NOT dropped pairs. `capped` disambiguates (r03 ADVICE).
        "capped": max_bucket_size is not None,
        "audited_cap": max_bucket_size or D.DEFAULT_MAX_BUCKET,
        "over_cap_buckets": int(sum(r["over_cap_buckets"] for r in stats_rows)),
        "over_cap_docs": int(sum(r["over_cap_docs"] for r in stats_rows)),
        **split_summary,
    }
    write_json_atomic(os.path.join(output_dir, "dedup_summary.json"), summary)
    return summary


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="xoverrr_spark staged corpus dedup")
    ap.add_argument("--input", required=True,
                    help="documents parquet path (columns id/text per --id-col/--text-col)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--num-hashes", type=int, default=16)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--shingle-n", type=int, default=3)
    ap.add_argument("--jaccard-threshold", type=float, default=0.7)
    ap.add_argument("--max-bucket-size", type=int, default=D.DEFAULT_MAX_BUCKET,
                    help="LSH bucket cap; 0 disables (exact recall, unbounded worst case)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--split-fractions",
                    help="optional assembly stage: 'train=0.8,val=0.1,"
                    "test=0.1' writes a deterministic id->split "
                    "projection + cross-split leakage audit over the "
                    "deduped corpus (full mode only)")
    ap.add_argument("--split-seed", type=int, default=0)
    ap.add_argument("--mode",
                    choices=["full", "build-index", "incremental", "append-delta"],
                    default="full",
                    help="full: one-shot corpus dedup; build-index: write the "
                    "fingerprint/shingle/signature index for --input; "
                    "incremental: dedup --input (a NEW batch) against "
                    "--index-dir, writing accepted docs + an index delta")
    ap.add_argument("--index-dir",
                    help="index location (output of build-index; required for "
                    "incremental)")
    args = ap.parse_args(argv)

    from ..session import get_spark

    spark = get_spark("xoverrr_dedup")
    if args.mode == "append-delta":
        if not args.index_dir:
            ap.error("--mode append-delta requires --index-dir")
        # --input is the batch OUTPUT dir holding index_delta/
        append_index_delta(spark, args.index_dir,
                           os.path.join(args.input, "index_delta"))
        print(json.dumps({"appended": args.input, "index_dir": args.index_dir}))
        return
    docs = spark.read.parquet(args.input)
    if args.mode == "build-index":
        summary = build_dedup_index(
            spark, docs, args.index_dir or args.output,
            id_col=args.id_col, text_col=args.text_col,
            num_hashes=args.num_hashes, shingle_n=args.shingle_n,
            resume=not args.no_resume,
        )
    elif args.mode == "incremental":
        if not args.index_dir:
            ap.error("--incremental requires --index-dir")
        summary = run_incremental_dedup(
            spark, docs, args.index_dir, args.output,
            id_col=args.id_col, text_col=args.text_col,
            num_hashes=args.num_hashes, bands=args.bands,
            shingle_n=args.shingle_n,
            jaccard_threshold=args.jaccard_threshold,
            max_bucket_size=args.max_bucket_size or None,
            resume=not args.no_resume,
        )
    else:
        fractions = None
        if args.split_fractions:
            fractions = {}
            for part in args.split_fractions.split(","):
                name, _, frac = part.partition("=")
                if not _:
                    ap.error(f"--split-fractions entry {part!r} is not name=frac")
                fractions[name.strip()] = float(frac)
        summary = run_dedup(
            spark, docs, args.output,
            id_col=args.id_col, text_col=args.text_col,
            num_hashes=args.num_hashes, bands=args.bands, shingle_n=args.shingle_n,
            jaccard_threshold=args.jaccard_threshold,
            max_bucket_size=args.max_bucket_size or None,
            resume=not args.no_resume,
            split_fractions=fractions,
            split_seed=args.split_seed,
        )
    print(json.dumps(summary))




# ------------------------------------------------- incremental ingestion ----

def build_dedup_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    resume: bool = True,
    log=print,
) -> dict:
    """Materialize the per-corpus dedup INDEX an ingestion loop keeps
    between batches: ``fingerprints/`` (text_fp), ``shingles/``
    (doc_id, shingle_hash), ``signatures/`` (doc_id, mh_*). Once built,
    incremental batches never rescan the corpus — they join these tables
    (the only thing you can afford to touch per batch at 100 TB)."""
    pin_run_params(
        index_dir, resume, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
    )
    _stage(
        "fingerprints", index_dir, resume,
        lambda: D.fingerprint_index(corpus, id_col, text_col), log,
    )
    sh_p = _stage(
        "shingles", index_dir, resume,
        lambda: D.shingle_table(corpus, id_col, text_col, shingle_n), log,
    )
    _stage(
        "signatures", index_dir, resume,
        lambda: D.minhash_signature_from_shingles(
            spark.read.parquet(sh_p), num_hashes
        ),
        log,
    )
    return {"index_dir": index_dir, "num_hashes": num_hashes, "shingle_n": shingle_n}


def run_incremental_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    output_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = D.DEFAULT_MAX_BUCKET,
    resume: bool = True,
    log=print,
) -> dict:
    """Ingest a new batch against a ``build_dedup_index`` index dir.

    Stages (each parquet + _SUCCESS, resumable like run_dedup):

        exact_survivors/  batch minus corpus exact dups minus in-batch dups
        near_pairs/       (new_id, corpus_id, jaccard) vs the index
        accepted/         exact survivors that near-dup nothing in the corpus
        index_delta/{fingerprints,shingles,signatures}/
                          the accepted docs' index rows — append these to
                          the index dir's tables to complete the loop

    The raw corpus is never read; only the three index tables are joined.

    CONTRACT: batch doc ids must be disjoint from every id already in the
    index (colliding ids merge shingle sets in the verify step). Enforced:
    the near_pairs stage runs with ``check_disjoint_ids=True`` and raises
    with example ids if a batch id sequence restarts.
    """
    pin_run_params(
        output_dir, resume, index_dir=index_dir, id_col=id_col,
        text_col=text_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
    )
    fps = spark.read.parquet(os.path.join(index_dir, "fingerprints"))
    corpus_sh = spark.read.parquet(os.path.join(index_dir, "shingles"))
    # a retried append_index_delta can leave duplicate rows; every index
    # consumer is set-semantics EXCEPT the bucket-size cap (window counts
    # would inflate and over-cap healthy buckets) — dedup signatures here
    corpus_sigs = spark.read.parquet(
        os.path.join(index_dir, "signatures")
    ).dropDuplicates(["doc_id"])

    exact_p = _stage(
        "exact_survivors", output_dir, resume,
        lambda: D.incremental_exact_dedup(new_docs, fps, id_col, text_col),
        log,
    )
    survivors = spark.read.parquet(exact_p)

    near_p = _stage(
        "near_pairs", output_dir, resume,
        lambda: D.incremental_near_dups(
            survivors, None, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            jaccard_threshold=jaccard_threshold,
            max_bucket_size=max_bucket_size,
            corpus_shingles=corpus_sh, corpus_sigs=corpus_sigs,
            # batch ids MUST be disjoint from corpus ids (a restarted id
            # sequence would silently merge shingle sets) — enforce it
            # here, where the one extra semi-join count is cheap relative
            # to the staged job
            check_disjoint_ids=True,
        ),
        log,
    )
    near = spark.read.parquet(near_p)

    acc_p = _stage(
        "accepted", output_dir, resume,
        lambda: survivors.join(
            near.select(F.col("new_id").alias(id_col)).distinct(),
            id_col, "left_anti",
        ),
        log,
    )
    accepted = spark.read.parquet(acc_p)

    delta_dir = os.path.join(output_dir, "index_delta")
    os.makedirs(delta_dir, exist_ok=True)
    _stage(
        "fingerprints", delta_dir, resume,
        lambda: D.fingerprint_index(accepted, id_col, text_col), log,
    )
    dsh_p = _stage(
        "shingles", delta_dir, resume,
        lambda: D.shingle_table(accepted, id_col, text_col, shingle_n), log,
    )
    _stage(
        "signatures", delta_dir, resume,
        lambda: D.minhash_signature_from_shingles(
            spark.read.parquet(dsh_p), num_hashes
        ),
        log,
    )

    n_new = new_docs.count()
    n_exact = survivors.count()
    n_accepted = accepted.count()
    summary = {
        "batch_docs": n_new,
        "exact_survivors": n_exact,
        "exact_dropped": n_new - n_exact,
        "near_dup_dropped": n_exact - n_accepted,
        "accepted": n_accepted,
        "jaccard_threshold": jaccard_threshold,
        "index_dir": index_dir,
    }
    write_json_atomic(os.path.join(output_dir, "incremental_summary.json"), summary)
    return summary



def append_index_delta(spark: SparkSession, index_dir: str, delta_dir: str) -> None:
    """Fold a batch's ``index_delta`` into the corpus index — the commit
    step of the ingestion loop (build_dedup_index once, then per batch:
    run_incremental_dedup -> append_index_delta). Parquet append per
    table; the fingerprint table may accumulate cross-batch duplicates
    harmlessly (it is only ever semi-joined)."""
    for name in ("fingerprints", "shingles", "signatures"):
        spark.read.parquet(os.path.join(delta_dir, name)).write.mode(
            "append"
        ).parquet(os.path.join(index_dir, name))


if __name__ == "__main__":
    main()
