"""Smoke test of the benchmark itself, at tiny inputs:

    python3 -m pytest perfbench/test_smoke.py -q

Per workload it makes one untraced run (seed 1) and one traced run
(seed 2), and asserts that every metric BENCHMARK.json names is printed
with its unit, that every correctness gate ran and passed, and that the
other seed changed the generated inputs. It also checks BENCHMARK.json against the
code and that the benchmark refuses to run without the program.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import COMMON_LAYERS, E2E  # noqa: E402
from workloads import layer_units, registry  # noqa: E402

SCALE = "0.05"
RUNNER_GATES = {"runner.fresh_total_rows", "runner.resume_total_rows", "runner.resume_ids",
                "runner.resume_n_keep", "runner.buckets_rerun"}
CHECK_GATES = {"check.audit_rows"} | {
    f"check.{c}_stats" for c in ("samples", "samples_chunked", "counts", "uniqueness", "sniff")}
DEDUP_GATES = {"dedup.clusters", "dedup.kept_docs", "dedup.total_docs"}
# a traced run traces every workload's layers
TRACED_GATES = RUNNER_GATES | DEDUP_GATES | CHECK_GATES
# workload -> gates of the untraced run
GATES = {
    "filter_batch": {"filter.row_count", "filter.keep_f1", "filter.caption_scrubbed_exact"},
    "check_suite": {"check.timed_audit_rows", "check.timed_samples_stats"},
}
LAYERS = {**COMMON_LAYERS, **layer_units()}


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, seed: int, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def test_benchmark_json_matches_code():
    bench = _declared()
    workloads = registry()
    assert [w["name"] for w in bench["workloads"]] == list(workloads)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYERS
    assert len(bench["per_layer"]) <= 128
    assert set(GATES) == set(workloads)


@pytest.mark.parametrize("workload", list(GATES))
def test_workload_prints_metrics_and_runs_gates(workload):
    fingerprints = []
    for trace, seed in ((0, 1), (1, 2)):
        proc = _run(ROOT, workload, seed, trace)
        assert proc.returncode == 0, proc.stderr[-4000:]
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        named = LAYERS if trace else E2E
        assert set(result["metrics"]) == set(named)
        for name, unit in named.items():
            metric = result["metrics"][name]
            assert metric["unit"] == unit and isinstance(metric["value"], (int, float))
            assert any(line.startswith(f"perfbench metric {name} = ") and line.endswith(f" {unit}")
                       for line in lines), name
        with open(os.path.join(ROOT, ".perfbench_out", f"{workload}.json")) as fh:
            record = json.load(fh)
        assert set(record["gates"]) == (TRACED_GATES if trace else GATES[workload])
        assert all(record["gates"].values())
        assert {"nproc", "loadavg_start", "loadavg_end", "pyspark", "java", "python"} <= set(
            record["host"])
        fingerprints.append(record["notes"]["input_fingerprint"])
    assert fingerprints[0] != fingerprints[1]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = _run(str(tmp_path), "filter_batch", 1, 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
