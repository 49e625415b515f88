"""Benchmark harness. Prints ONE JSON line:

  {"metric": "...", "value": <headline pipeline sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, ...extras}

Headline = the image+caption quality-filter pipeline (the north-rule
workload) over a cached deterministic fixture, timed at local[CPUS] and,
on identical input, at local[CPUS // 4] to evidence the N->4N
scaling-efficiency criterion on one host (the ratio is exactly 1:4 when
CPUS is a multiple of 4; under 4 cores there is no pair).
Plus the operator queries over $SPARK_GRAFT_SF_DIR parquet.

Every number is a leaf timed by ``scripts/bench_leaves.leaf``: the median
over the steal-quiet calls of three, after one warm-up call. The samples,
steal shares, quiet indices, median and IQR of every leaf, under one host
stamp, go to .bench_cache/bench_leaves.json; the JSON line references it
by path and sha256.
"""

from __future__ import annotations

import functools
import json
import os
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from perfbench.harness import NPROC, host_stamp, loadavg, wait_for_quiet  # noqa: E402
from scripts.bench_leaves import headline_line, leaf, write_leaves  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", NPROC))
CACHE = os.path.join(ROOT, ".bench_cache")
LEAVES_FILE = ".bench_cache/bench_leaves.json"

PIPELINE_ROWS = int(os.environ.get("XOVERRR_BENCH_ROWS", "1000000"))
PAYLOAD_ROWS = 100000


def _sf_label() -> float:
    base = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _new_spark(cores: int):
    from xoverrr_spark.session import get_spark

    return get_spark(
        f"bench_{cores}",
        cores=cores,
        shuffle_partitions=max(cores, 8),
        # CPU-heavy map pipeline over one smallish local file: shrink split
        # size so every core gets tasks (production inputs are many files)
        extra_conf={"spark.sql.files.maxPartitionBytes": str(1024 * 1024)},
    )


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_pipeline(spark, fixture: str, stage=None) -> dict:
    """The pipeline (``quality_filter`` unless ``stage`` is given) over the
    parquet ``fixture``, written to the noop sink."""
    from xoverrr_spark.pipeline.quality_filter import quality_filter

    df = spark.read.parquet(fixture)
    return leaf(lambda: _noop_write((stage or quality_filter)(df)))


DIFF_BENCH_ROWS = 1_000_000


def _diff_bench_frames(spark, n: int = DIFF_BENCH_ROWS):
    """Fresh 1M x 10 src/trg pair each call — re-collecting the SAME
    DataFrame would reuse its shuffle map outputs and time nothing."""
    from pyspark.sql import functions as F

    src = spark.range(n).select(
        F.col("id").alias("pk"),
        *[(F.col("id") * k % 997).cast("string").alias(f"c{k}") for k in range(1, 10)],
    )
    trg = src.filter(F.col("pk") % 1000 != 0).withColumn(
        "c3", F.when(F.col("pk") % 500 == 0, F.lit("X")).otherwise(F.col("c3"))
    )
    return src, trg


def time_diff_1m(spark) -> dict:
    """The reference's headline: two ~1M-row x 10-col frames diffed in ~3 s
    on one process (README.md:389). Same shape here: 1M keys, 9 value
    columns, 0.1% missing keys + engineered value diffs, full stats row."""
    from xoverrr_spark.operators.diff import diff_stats_row

    n = DIFF_BENCH_ROWS

    def call():
        src, trg = _diff_bench_frames(spark, n)
        row = diff_stats_row(src, trg, ["pk"], normalize=False).collect()[0]
        assert row["comparable_rows"] == n - n // 1000

    return leaf(call)


def time_compare_full_1m(spark) -> dict:
    """FULL compare_frames on the same 1M x 10 shape: stats + key examples
    + dup-key examples + issue examples. One query, stats observed on the
    examples query: the scan + key shuffle runs once, so this should cost
    about the bare stats row plus one small ranked-window stage."""
    from xoverrr_spark.operators.diff import compare_frames

    def call():
        src, trg = _diff_bench_frames(spark)
        stats, details = compare_frames(src, trg, ["pk"], normalize=False)
        assert stats.comparable_rows == DIFF_BENCH_ROWS - DIFF_BENCH_ROWS // 1000
        assert details.issue_examples and details.source_only_keys_examples

    return leaf(call)


BUCKET_JOIN_ROWS = 4_000_000
BUCKET_JOIN_BUCKETS = 32


def _bucket_bench_tables(spark):
    """Two 4M-row fact tables, as plain parquet AND co-bucketed catalog
    tables (one-time write, cached; the in-memory catalog is per-session
    so existing bucketed data is re-registered via CREATE TABLE ...
    CLUSTERED BY ... LOCATION on every run)."""
    from pyspark.sql import functions as F

    base = os.path.join(CACHE, f"bucket_join_{BUCKET_JOIN_ROWS}")
    plain1, plain2 = os.path.join(base, "plain1"), os.path.join(base, "plain2")
    b1, b2 = os.path.join(base, "bucketed1"), os.path.join(base, "bucketed2")
    done = os.path.join(base, "_DONE")
    if not os.path.exists(done):
        from xoverrr_spark.operators.bucketing import write_bucketed

        os.makedirs(base, exist_ok=True)
        f1 = spark.range(BUCKET_JOIN_ROWS).select(
            F.col("id").alias("k"), (F.col("id") % 1000).alias("v"))
        f2 = spark.range(BUCKET_JOIN_ROWS).select(
            F.col("id").alias("k"), ((F.col("id") * 7) % 1000).alias("w"))
        f1.write.mode("overwrite").parquet(plain1)
        f2.write.mode("overwrite").parquet(plain2)
        spark.sql("DROP TABLE IF EXISTS bench_f1_b")
        spark.sql("DROP TABLE IF EXISTS bench_f2_b")
        write_bucketed(f1, "bench_f1_b", ["k"], BUCKET_JOIN_BUCKETS, b1)
        write_bucketed(f2, "bench_f2_b", ["k"], BUCKET_JOIN_BUCKETS, b2)
        open(done, "w").close()
    for t, p, cols in (("bench_f1_b", b1, "k BIGINT, v BIGINT"),
                       ("bench_f2_b", b2, "k BIGINT, w BIGINT")):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {t} ({cols}) USING parquet "
            f"CLUSTERED BY (k) SORTED BY (k) INTO {BUCKET_JOIN_BUCKETS} "
            f"BUCKETS LOCATION '{p}'")
    return plain1, plain2


def time_bucketed_join(spark) -> tuple[dict, dict]:
    """Fact-to-fact 4M x 4M equi-join + aggregate, plain parquet (two
    shuffle exchanges + sorts) vs co-bucketed tables (zero exchanges —
    the shuffle was paid ONCE at write time). The 100-TB argument in one
    number: a recurring big join over bucketed layout skips the
    full-table network movement every single run. Broadcast is disabled
    so both paths plan the same SortMergeJoin skeleton."""
    from pyspark.sql import functions as F

    p1, p2 = _bucket_bench_tables(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def plain():
            return (spark.read.parquet(p1).join(spark.read.parquet(p2), "k")
                    .agg(F.sum(F.col("v") * F.col("w")).alias("s")))

        def bucketed():
            return (spark.table("bench_f1_b")
                    .join(spark.table("bench_f2_b"), "k")
                    .agg(F.sum(F.col("v") * F.col("w")).alias("s")))

        # same answer, or the comparison is meaningless
        assert plain().collect() == bucketed().collect()
        return leaf(lambda: plain().collect()), leaf(lambda: bucketed().collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


OPERATOR_QUERY_NAMES = [
    "diff_classify_orders", "diff_stats_orders", "dup_keys_lineitem",
    "daily_counts_events", "q1_pricing_summary", "revenue_top10",
    "top3_suppliers_per_nation", "normalize_lineitem",
    "langid_documents", "quality_filter_documents",
    "minhash_signatures_documents", "lsh_candidates_documents",
    "minhash_near_dups_documents", "simhash_documents",
    "ann_topk_embeddings", "curate_documents", "session_stats_events",
    "asof_events", "range_count_events", "repetition_stats_documents",
    "curate_documents_v2",
    "mixture_sample_documents", "quality_top_fraction_documents",
    "assemble_dataset_documents",
]


def run_operator_queries(spark, sf_dir: str | None = None) -> dict[str, dict]:
    import __spark_entry__ as entrymod

    from xoverrr_spark.intermediates import scope

    qs = entrymod.queries()

    def run(name):
        # one scope per call frees its persisted intermediates, so earlier
        # queries' cache blocks don't pressure later timings (one session)
        with scope():
            _noop_write(qs[name](spark, sf_dir or SF_DIR))

    return {name: leaf(functools.partial(run, name)) for name in OPERATOR_QUERY_NAMES}


def main() -> None:
    from xoverrr_spark.fixtures.images import cached_images_parquet
    from xoverrr_spark.pipeline.quality_filter import annotate

    quiet = wait_for_quiet()
    load_start = loadavg()
    # the N -> 4N evidence pair: 4N is every core the bench may use
    low, high = CPUS // 4, CPUS
    fixture = cached_images_parquet(PIPELINE_ROWS, CACHE)

    leaves = {}
    if low:
        spark = _new_spark(low)
        leaves["pipeline_low"] = {"cores": low, **time_pipeline(spark, fixture)}
        spark.stop()

    spark = _new_spark(high)
    java = spark._jvm.System.getProperty("java.version")
    pipe = leaves["pipeline_high"] = {"cores": high, **time_pipeline(spark, fixture)}
    # scale-up point: the SAME pipeline at 4x the rows on the same cores.
    # Throughput should RISE (per-stage overhead amortizes; a falling
    # number would mean some stage is superlinear / driver-bound).
    scale_up = time_pipeline(spark, cached_images_parquet(4 * PIPELINE_ROWS, CACHE))
    # annotate keeps every input column, so the binary image payload is
    # carried end-to-end
    payload = time_pipeline(
        spark, cached_images_parquet(PAYLOAD_ROWS, CACHE, with_bytes=True), annotate)
    queries = run_operator_queries(spark)
    queries["shuffle_join_4m"], queries["bucketed_join_4m"] = time_bucketed_join(spark)
    queries["compare_frames_full_1m"] = time_compare_full_1m(spark)
    queries["pipeline_with_payload_100k"] = payload
    queries["diff_1m_rows_x10cols"] = time_diff_1m(spark)
    spark.stop()

    leaves.update(scale_up_4x=scale_up, **queries)
    host = host_stamp(java, quiet, load_start)
    host["spark_cores"] = high
    sha = write_leaves(os.path.join(ROOT, LEAVES_FILE), leaves, host)

    t_high, t_4x = pipe["median_s"], scale_up["median_s"]
    thr_high, thr_4x = PIPELINE_ROWS / t_high, 4 * PIPELINE_ROWS / t_4x
    shuffle_join, bucketed_join = (queries[k]["median_s"]
                                   for k in ("shuffle_join_4m", "bucketed_join_4m"))
    result = {
        "metric": "quality_filter_pipeline_sec",
        "value": round(t_high, 3),
        "value_iqr": round(pipe["iqr_s"], 3),
        "unit": "sec",
        "queries": {k: round(v["median_s"], 3) for k, v in queries.items()},
        "sf": _sf_label(),
        "pipeline_rows": PIPELINE_ROWS,
        "images_per_sec": round(thr_high, 1),
        "scale_up_4x": {
            "rows": 4 * PIPELINE_ROWS,
            "sec": round(t_4x, 3),
            "images_per_sec": round(thr_4x, 1),
            "throughput_ratio_vs_1x": round(thr_4x / thr_high, 3),
        },
        "diff_row_pairs_per_sec": round(DIFF_BENCH_ROWS / queries["diff_1m_rows_x10cols"]["median_s"], 1),
        # co-located (bucketed) vs shuffle join, same 4Mx4M SMJ + agg
        "bucketed_join_speedup": round(shuffle_join / bucketed_join, 2),
        # shared-host load OUTSIDE this container when the bench started;
        # values >~2 depress all numbers and especially scaling efficiency
        "external_loadavg_at_start": load_start[0],
        "leaves": {"file": LEAVES_FILE, "sha256_12": sha},
    }
    if low:
        t_low = leaves["pipeline_low"]["median_s"]
        # throughput per core at high over that at low
        eff = round((t_low / t_high) / (high / low), 3)
        result["scaling"] = {
            "cores_low": low,
            "cores_high": high,
            "images_per_sec_low": round(PIPELINE_ROWS / t_low, 1),
            "images_per_sec_high": round(thr_high, 1),
            "efficiency": eff,
        }
        result["scaling_efficiency"] = eff
    # staged dedup-job scale evidence (recorded by scripts/
    # dedup_scale_stress.py on synthetic corpora up to 10M docs — far
    # beyond sf0.1's 5k documents; each record carries its own
    # recorded_at + loadavg). Referenced COMPACTLY: folding the full
    # recording into this line overflowed the driver's tail capture in
    # r4 (BENCH_r04.json parsed: null) — the headline JSON must stay
    # short and be the LAST stdout line. Full data: the file + DEDUP_SCALE.md.
    scale_json = os.path.join(CACHE, "dedup_scale.json")
    if os.path.exists(scale_json):
        import hashlib

        with open(scale_json, "rb") as fh:
            raw = fh.read()
        try:
            recs = json.loads(raw)
        except ValueError:
            recs = []
        summary = {
            "file": ".bench_cache/dedup_scale.json",
            "sha256_12": hashlib.sha256(raw).hexdigest()[:12],
            "n_runs": len(recs),
        }
        # headline scalars only: biggest corpus at its highest core count,
        # plus any skew-stress run (over_cap_docs > 0)
        if recs:
            best = max(recs, key=lambda r: (r["n_docs"], r["cores"]))
            summary["max_docs"] = best["n_docs"]
            summary["cores"] = best["cores"]
            summary["wall_s"] = best["total_wall_s"]
            summary["docs_per_sec"] = best["job_docs_per_sec"]
            skew = [r for r in recs if r.get("over_cap_docs", 0) > 0]
            if skew:
                s = max(skew, key=lambda r: r["n_docs"])
                summary["skew_docs"] = s["n_docs"]
                summary["skew_wall_s"] = s["total_wall_s"]
                summary["skew_over_cap_docs"] = s["over_cap_docs"]
        result["dedup_job_scale"] = summary

    # sf1 per-operator sweep (scripts/sf1_timing_sweep.py): one scalar —
    # the worst 10x wall ratio across the query list (full table in
    # SF1_BENCH.md; ~10 = linear, >10 = superlinear stage)
    sf1_json = os.path.join(CACHE, "sf1_sweep.json")
    if os.path.exists(sf1_json):
        try:
            with open(sf1_json) as fh:
                result["sf1_max_10x_ratio"] = json.load(fh).get("max_ratio")
        except ValueError:
            pass

    # the headline JSON must be the final stdout line
    print(headline_line(result))


if __name__ == "__main__":
    main()
