"""Time the bench's operator-query list (bench.py methodology: one session,
noop sink, one intermediates.scope() per query) without touching the
frozen bench.py. Usage:
  python scripts/opq_sweep.py [sf_dir] [query ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf1.0"


def main() -> None:
    from xoverrr_spark.session import get_spark

    import __spark_entry__ as entrymod
    from bench import OPERATOR_QUERY_NAMES, _noop_write
    from xoverrr_spark.intermediates import scope

    names = sys.argv[2:] or OPERATOR_QUERY_NAMES
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("opq_sweep", cores=cpus, shuffle_partitions=max(cpus, 8),
                      extra_conf={"spark.sql.files.maxPartitionBytes": str(1024 * 1024)})
    qs = entrymod.queries()
    out = {}
    print("loadavg:", os.getloadavg()[0])
    for name in names:
        with scope():
            t0 = time.time()
            _noop_write(qs[name](spark, SF_DIR))
            out[name] = round(time.time() - t0, 3)
        print(f"{name}: {out[name]}")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
