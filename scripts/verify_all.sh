#!/usr/bin/env bash
# Full local verification: the no-Spark fast lane (reachability guards,
# bench.py's leaf timing, the oracle paste guard and every oracle twin run
# on DuckDB), the diff lane (the diff engine, the keyed-diff audit golden
# cases and the diff plan pins, so a broken diff or audit shape fails in
# seconds; date chunking is a key column of the diff, so its tests ride
# along), the test suite, the benchmark's smoke test, and the
# Spark-vs-DuckDB parity sweep at both scale factors.
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== no-Spark fast lane =="
python -m pytest tests/test_reachable.py tests/test_bench_leaves.py \
    tests/test_entry_contract.py::test_no_stage_sql_pasted_into_the_oracle \
    tests/test_oracle_twins.py -q
echo "== diff lane =="
python -m pytest tests/test_diff_pair.py tests/test_diff_scores.py \
    tests/test_checker_audit_golden.py tests/test_plans.py tests/test_chunking.py \
    -k "diff or samples or custom_queries or chunk" -q
echo "== pytest =="
python -m pytest tests/ -q
echo "== perfbench smoke =="
python -m pytest perfbench/test_smoke.py -q
echo "== oracle parity sf0.01 =="
python scripts/check_oracle.py /root/testdata/sf0.01
echo "== oracle parity sf0.1 =="
python scripts/check_oracle.py /root/testdata/sf0.1
echo "ALL GREEN"
