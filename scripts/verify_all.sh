#!/usr/bin/env bash
# Full local verification: the no-Spark fast lane (reachability guards and
# bench.py's leaf timing), the test suite, the benchmark's smoke test, and
# the Spark-vs-DuckDB parity sweep at both scale factors.
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== no-Spark fast lane =="
python -m pytest tests/test_reachable.py tests/test_bench_leaves.py -q
echo "== pytest =="
python -m pytest tests/ -q
echo "== perfbench smoke =="
python -m pytest perfbench/test_smoke.py -q
echo "== oracle parity sf0.01 =="
python scripts/check_oracle.py /root/testdata/sf0.01
echo "== oracle parity sf0.1 =="
python scripts/check_oracle.py /root/testdata/sf0.1
echo "ALL GREEN"
