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


def main() -> None:
    from bench import CPUS, OPERATOR_QUERY_NAMES, _new_spark

    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or OPERATOR_QUERY_NAMES
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entrymod
    from xoverrr_spark.intermediates import scope

    spark = _new_spark(CPUS)
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
