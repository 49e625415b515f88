"""Per-operator timing at sf1 vs sf0.1 (r4 verdict #3).

Correctness is proven at sf1 (full oracle sweep green), but per-operator
TIMING evidence topped out at sf0.1 — leaving the last operator-level
scaling question open: does any headline query go superlinear at 10x the
data? This times the bench operator-query list at each scale factor in
one session (same cores; each query's wall is bench.py's leaf median over
the steal-quiet calls of three after one warm-up) and records the 10x
wall ratio per query.

Reading the ratios: sf1 is 10x the rows, so a CPU-bound scan ratio of
~10 is linear; well under 10 means fixed per-query overhead (session,
planning, tiny shuffles) dominated the sf0.1 leg — common for the small
queries; meaningfully over ~10 on a quiet host flags a superlinear stage
(or a plan that stops fitting, e.g. a broadcast falling back to shuffle)
and gets a plan investigation.

Results: .bench_cache/sf1_sweep.json + SF1_BENCH.md (bench.py references
the headline in its JSON line when present).

Usage: python scripts/sf1_timing_sweep.py [--sf01 /root/testdata/sf0.1]
       [--sf1 .bench_cache/sf1] [--cores N]   (N defaults to bench.CPUS:
       $SPARK_GRAFT_CPUS, else nproc)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
CACHE = os.path.join(REPO, ".bench_cache")


def main(argv=None) -> None:
    import bench
    from xoverrr_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf01", default="/root/testdata/sf0.1")
    ap.add_argument("--sf1", default=os.path.join(CACHE, "sf1"))
    ap.add_argument("--cores", type=int, default=bench.CPUS)
    args = ap.parse_args(argv)

    load = os.getloadavg()[0]
    spark = get_spark("sf1_sweep", cores=args.cores)
    try:
        t01 = bench.run_operator_queries(spark, args.sf01)
        t1 = bench.run_operator_queries(spark, args.sf1)
    finally:
        spark.stop()

    rows = []
    for q in t01:
        a, b = t01[q]["median_s"], t1[q]["median_s"]
        rows.append({"query": q, "sf01_s": a, "sf1_s": b,
                     "ratio_10x": round(b / a, 2) if a else None})
    record = {
        "cores": args.cores,
        "external_loadavg_at_start": round(load, 2),
        "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "max_ratio": max(r["ratio_10x"] for r in rows),
        "rows": rows,
    }
    os.makedirs(CACHE, exist_ok=True)
    with open(os.path.join(CACHE, "sf1_sweep.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    lines = [
        "# Per-operator timing: sf0.1 vs sf1 (10x rows, same session)",
        "",
        f"local[{args.cores}], external loadavg at start "
        f"{record['external_loadavg_at_start']} (values >~2 depress all",
        "numbers). Ratio ~10 = linear in rows; below = per-query overhead",
        "dominated the small leg; meaningfully above ~10 on a quiet host =",
        "superlinear stage, investigate the plan.",
        "",
        "| query | sf0.1 s | sf1 s | 10x ratio |",
        "|---|---|---|---|",
    ]
    for r in sorted(rows, key=lambda x: -x["ratio_10x"]):
        lines.append(
            f"| {r['query']} | {r['sf01_s']} | {r['sf1_s']} | {r['ratio_10x']} |"
        )
    lines += [
        "",
        f"Max 10x ratio: **{record['max_ratio']}**. Recorded "
        f"{record['recorded_at']} — regenerate with "
        "`python scripts/sf1_timing_sweep.py`.",
        "",
    ]
    with open(os.path.join(REPO, "SF1_BENCH.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(json.dumps({k: v for k, v in record.items() if k != "rows"}))


if __name__ == "__main__":
    main()
