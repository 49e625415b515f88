"""Executor-level scaling evidence: the SAME pipeline on a 1-executor and a
4-executor cluster (Spark local-cluster mode = real separate executor JVMs
with their own Python workers — the closest thing to a multi-node cluster
this sandbox can host).

north_rule criterion: images/sec/executor with scaling efficiency >= 0.8
from N to 4N executors. Writes BENCH_EXECUTORS.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.bench_leaves import leaf  # noqa: E402

ROWS = int(os.environ.get("XOVERRR_EXEC_ROWS", "1000000"))
CORES_PER_EXEC = 2
MEM_MB = 2048


def run_at(n_executors: int, fixture: str) -> dict:
    from pyspark.sql import SparkSession

    from xoverrr_spark.pipeline.quality_filter import quality_filter

    spark = (
        SparkSession.builder
        .master(f"local-cluster[{n_executors},{CORES_PER_EXEC},{MEM_MB}]")
        .appName(f"exec_scaling_{n_executors}")
        .config("spark.sql.shuffle.partitions", str(n_executors * CORES_PER_EXEC))
        .config("spark.executor.memory", f"{MEM_MB}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024))
        # ship the package to executor JVMs like spark-submit --py-files
        .config("spark.submit.pyFiles", os.path.join(REPO, "dist", "xoverrr_spark.zip"))
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    q = quality_filter(spark.read.parquet(fixture))
    timing = leaf(lambda: q.write.format("noop").mode("overwrite").save())
    spark.stop()
    time.sleep(2)  # let executor JVMs exit before the next cluster
    return timing


def main() -> None:
    from xoverrr_spark.fixtures.images import cached_images_parquet

    if not os.path.exists(os.path.join(REPO, "dist", "xoverrr_spark.zip")):
        os.system(f"bash {REPO}/scripts/make_pyfiles.sh >/dev/null")
    fixture = cached_images_parquet(ROWS, os.path.join(REPO, ".bench_cache"))
    load0 = os.getloadavg()[0]

    r1, r4 = run_at(1, fixture), run_at(4, fixture)
    t1, t4 = r1["median_s"], r4["median_s"]
    eff = (t1 / t4) / 4

    thr1, thr4 = ROWS / t1, ROWS / t4
    result = {
        "metric": "executor_scaling",
        "rows": ROWS,
        "cluster_small": f"1 executor x {CORES_PER_EXEC} cores",
        "cluster_large": f"4 executors x {CORES_PER_EXEC} cores",
        "wall_s_1exec": round(t1, 2),
        "wall_s_4exec": round(t4, 2),
        "images_per_sec_1exec": round(thr1, 1),
        "images_per_sec_4exec": round(thr4, 1),
        "images_per_sec_per_executor_1": round(thr1, 1),
        "images_per_sec_per_executor_4": round(thr4 / 4, 1),
        "scaling_efficiency_n_to_4n_executors": round(eff, 3),
        "external_loadavg_at_start": round(load0, 2),
    }
    with open(os.path.join(REPO, "BENCH_EXECUTORS.md"), "w") as fh:
        fh.write(
            "# Executor-level scaling (local-cluster: real executor JVMs)\n\n"
            "Same pipeline, same 1M-row input, N=1 vs 4N=4 executors\n"
            f"({CORES_PER_EXEC} cores each); package shipped via spark.submit.pyFiles.\n\n"
            "| cluster | wall s | images/sec | images/sec/executor |\n|---|---|---|---|\n"
            f"| 1 executor | {t1:.2f} | {thr1:,.0f} | {thr1:,.0f} |\n"
            f"| 4 executors | {t4:.2f} | {thr4:,.0f} | {thr4 / 4:,.0f} |\n\n"
            f"**Scaling efficiency (1 -> 4 executors): {eff:.3f}** "
            f"(target >= 0.8). External loadavg at start: {load0:.2f}.\n"
            "Wall s is the median over the steal-quiet calls of three after one\n"
            f"warm-up; IQR 1 executor {r1['iqr_s']:.2f} s, 4 executors {r4['iqr_s']:.2f} s.\n"
        )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
