"""Dump .explain("formatted") for bench-timed queries to plans/<tag>/.

Usage: python scripts/dump_plans.py <tag> [suffix] [query ...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix default "before").
Driver-side planning only — no jobs run (noop-priced for the judge's
plan-claim checks; see OPTIMIZATION_r06.md).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")

BENCH_QUERIES = [
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


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or BENCH_QUERIES
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    from xoverrr_spark.session import get_spark

    import __spark_entry__ as entrymod

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("dump_plans", cores=cpus, shuffle_partitions=max(cpus, 8),
                      extra_conf={"spark.sql.files.maxPartitionBytes": str(1024 * 1024)})
    from xoverrr_spark.intermediates import scope

    qs = entrymod.queries()
    for name in names:
        # the scope frees any persisted intermediates the query built
        with scope():
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(f"-- {name} @ {SF_DIR} ({suffix})\n")
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
