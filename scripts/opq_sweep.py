"""Time the bench's operator-query list with bench.py's own session and
loop (bench.run_operator_queries: noop sink, one intermediates.scope()
per query). Usage:
  python scripts/opq_sweep.py [sf_dir] [query ...]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf1.0"


def main() -> None:
    from bench import CPUS, OPERATOR_QUERY_NAMES, _new_spark, run_operator_queries

    spark = _new_spark(CPUS)
    print("loadavg:", os.getloadavg()[0])
    print(json.dumps(run_operator_queries(spark, SF_DIR, sys.argv[2:] or OPERATOR_QUERY_NAMES)))
    spark.stop()


if __name__ == "__main__":
    main()
