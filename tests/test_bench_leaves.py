"""bench.py's leaf timing and its one-line JSON record, without Spark.

``leaf`` is driven with a fake callable, a scripted wall clock and a
scripted steal counter, so the quiet set, the median and the IQR it
reports are known in advance.
"""

import ast
import json
from pathlib import Path

from scripts.bench_leaves import CALLS, LINE_LIMIT, headline_line, leaf

ROOT = Path(__file__).resolve().parent.parent


def _scripted(samples, steals):
    """A clock and a steal counter that each read twice per timed call
    (before, after) and give call ``i`` wall ``samples[i]`` and steal share
    ``steals[i]`` over 1000 host ticks."""
    clock, ticks = [], []
    t = total = stolen = 0.0
    for dt, share in zip(samples, steals):
        clock += [t, t + dt]
        ticks += [(total, stolen), (total + 1000, stolen + share * 1000)]
        t, total, stolen = t + dt + 1.0, total + 2000, stolen + share * 1000
    return iter(clock).__next__, iter(ticks).__next__


def _leaf(samples, steals):
    calls = []
    clock, ticks = _scripted(samples, steals)
    rec = leaf(lambda: calls.append(1), ticks=ticks, clock=clock)
    assert len(calls) == CALLS + 1  # one untimed warm-up call
    return rec


def test_leaf_selects_quiet_calls_by_steal_not_by_time():
    # the fastest call was the one other tenants stole from: it is left out
    rec = _leaf([0.5, 2.0, 4.0], [0.3, 0.0, 0.0])
    assert rec["samples_s"] == [0.5, 2.0, 4.0]
    assert rec["steal"] == [0.3, 0.0, 0.0]
    assert rec["quiet"] == [1, 2]
    assert rec["median_s"] == 3.0
    assert rec["iqr_s"] == 1.0


def test_leaf_keeps_every_call_within_slack_of_the_quietest():
    rec = _leaf([1.0, 5.0, 3.0], [0.0, 0.005, 0.009])
    assert rec["quiet"] == [0, 1, 2]
    assert rec["median_s"] == 3.0
    assert rec["iqr_s"] == 2.0  # inclusive quartiles of 1, 3, 5


def test_leaf_keeps_at_least_the_quieter_half():
    rec = _leaf([1.0, 2.0, 3.0], [0.1, 0.3, 0.2])
    assert rec["quiet"] == [0, 2]
    assert rec["median_s"] == 2.0
    assert rec["iqr_s"] == 1.0  # inclusive quartiles of 1, 3


def _bench_query_names() -> list[str]:
    """bench.py's query keys, read from its source: ``OPERATOR_QUERY_NAMES``
    plus every ``queries["..."] = ...`` in ``main()``. (bench.py is a script:
    importing it would freeze its environment-read settings at collection.)"""
    tree = ast.parse((ROOT / "bench.py").read_text())
    names = next(
        ast.literal_eval(n.value) for n in tree.body
        if isinstance(n, ast.Assign) and getattr(n.targets[0], "id", None) == "OPERATOR_QUERY_NAMES")
    names += [n.slice.value for n in ast.walk(tree)
              if isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Store)
              and getattr(n.value, "id", None) == "queries"]
    return names


def test_headline_line_fits_the_tail_for_a_maximal_record():
    big = 123456.789
    result = {
        "metric": "quality_filter_pipeline_sec", "value": big, "value_iqr": big,
        "unit": "sec", "queries": {name: big for name in _bench_query_names()},
        "sf": 1000.0, "pipeline_rows": 10**9, "images_per_sec": big,
        "scaling": {"cores_low": 1024, "cores_high": 4096, "images_per_sec_low": big,
                    "images_per_sec_high": big, "efficiency": big},
        "scaling_efficiency": big,
        "scale_up_4x": {"rows": 4 * 10**9, "sec": big, "images_per_sec": big,
                        "throughput_ratio_vs_1x": big},
        "diff_row_pairs_per_sec": big, "bucketed_join_speedup": big,
        "external_loadavg_at_start": big,
        "leaves": {"file": ".bench_cache/bench_leaves.json", "sha256_12": "0" * 12},
        "dedup_job_scale": {
            "file": ".bench_cache/dedup_scale.json", "sha256_12": "0" * 12,
            "n_runs": 10**6, "max_docs": 10**12, "cores": 4096, "wall_s": big,
            "docs_per_sec": big, "skew_docs": 10**12, "skew_wall_s": big,
            "skew_over_cap_docs": 10**12},
        "sf1_max_10x_ratio": big,
    }
    assert len(json.dumps(result)) > LINE_LIMIT  # the loop has work to do
    line = headline_line(result)
    assert len(line) <= LINE_LIMIT
    out = json.loads(line)
    assert out["metric"] == "quality_filter_pipeline_sec"
    assert out["value"] == big
    assert out["queries"] == result["queries"]


def test_headline_line_keeps_a_record_that_fits():
    result = {"metric": "quality_filter_pipeline_sec", "value": 1.0, "scaling": {}}
    assert json.loads(headline_line(result)) == result
