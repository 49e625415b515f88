"""Perf gates mirroring the reference's embedded assertions
(/root/reference/tests/unit/test_utils.py:159-160 — 10k x 11 cols < 1 s;
:211 — 1M x 10 cols < 5 s, both single-process pandas).

Margins here are wide (shared host with external load bursts); BENCH.md
carries the tight measured numbers (1M x 10 diff ~1.4-2.0 s at local[32],
vs the reference's ~3 s).
"""

import time

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.operators.diff import diff_stats_row


def _frames(spark, n, cols):
    src = spark.range(n).select(
        F.col("id").alias("pk"),
        *[(F.col("id") * k % 97).cast("string").alias(f"c{k}") for k in range(1, cols)],
    )
    trg = src.filter(F.col("pk") % 100 != 0)
    return src, trg


@pytest.mark.parametrize("n,cols,budget_s", [(10_000, 11, 8.0), (1_000_000, 10, 20.0)])
def test_diff_perf_gate(spark, n, cols, budget_s):
    src, trg = _frames(spark, n, cols)
    diff_stats_row(src, trg, ["pk"], normalize=False).collect()  # warm
    src, trg = _frames(spark, n, cols)
    t0 = time.time()
    row = diff_stats_row(src, trg, ["pk"], normalize=False).collect()[0]
    dt = time.time() - t0
    assert row["only_source_rows"] == n // 100
    assert dt < budget_s, f"{n}x{cols} diff took {dt:.2f}s"


def test_curate_v2_perf_gate(spark):
    """The four-stage recipe composition must stay in the single-digit
    seconds at sf0.01 (wide margin for host bursts; BENCH.md has the tight
    numbers). Guards against the unpersisted-branch regression: without
    the dd/keepr persists this plan recomputes the window dedup 4x."""
    import __spark_entry__ as e
    from xoverrr_spark.intermediates import scope

    q = e.queries()["curate_documents_v2"]
    with scope():
        q(spark, "/root/testdata/sf0.01").count()  # warm
    with scope():
        df = q(spark, "/root/testdata/sf0.01")
        t0 = time.time()
        df.count()
        dt = time.time() - t0
    assert dt < 15.0, f"curate_v2 took {dt:.2f}s at sf0.01"


def test_bench_fixture_cache_is_content_keyed(tmp_path):
    """r4 verdict #5: .bench_cache fixtures were keyed only by (n, seed) —
    a rulespec/generator edit silently benched stale inputs. The cache
    filename now folds a digest of both source files, so any content
    change maps to a NEW fixture path."""
    import os
    import shutil

    from bench import _fixture_digest, fixture_path

    repo = os.path.dirname(os.path.abspath(__file__ + "/.."))
    d0 = _fixture_digest()
    assert d0 in fixture_path(1000)  # the digest actually keys the path

    # clone the two keyed sources, tweak the rulespec clone: digest moves
    for rel in ("xoverrr_spark/fixtures/images.py",
                "xoverrr_spark/functions/rulespec.py"):
        dst = tmp_path / rel
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy(os.path.join(repo, rel), dst)
    assert _fixture_digest(str(tmp_path)) == d0
    with open(tmp_path / "xoverrr_spark/functions/rulespec.py", "a") as fh:
        fh.write("\n# new caption category\n")
    assert _fixture_digest(str(tmp_path)) != d0
