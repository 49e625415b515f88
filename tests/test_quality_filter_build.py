"""quality_filter's Column trees are built once per SparkContext.

The budget and plan tests run no Spark job: they only build and optimize
plans over a small driver-side frame.
"""

import re
import sys
import threading
import weakref

import pandas as pd
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from xoverrr_spark.pipeline import quality_filter as qf
from xoverrr_spark.session import local_rows

CAPTIONS = [
    "a photo of a dog sitting on the grass near a wooden fence",
    "buy now!!! click here $$$ 555-123-4567 mail me at a@b.com",
    "", None, "nan",
    "le chat est sur la table dans la cuisine avec les enfants",
    "the red car is parked in front of an old brick building",
]


def _frame(spark, col="caption", prefix="i"):
    return local_rows(
        spark, [(f"{prefix}{i}", c) for i, c in enumerate(CAPTIONS)],
        f"image_id string, {col} string",
    )


def _masked_plan(df) -> str:
    """Optimized plan with expression ids and lambda-variable counters
    masked: both are fresh per call, everything else must match."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    return re.sub(r"\b([a-z]+)_\d+\b", r"\1_", plan)


def test_cached_build_makes_few_py4j_round_trips(spark, monkeypatch):
    """Rebuilding the projection took 923 py4j commands per call; applying
    the cached layers takes 136. Counted on this thread only: py4j's
    finalizer thread frees dead JVM references whenever it gets to it."""
    df = _frame(spark)
    qf.quality_filter(df)
    sent = []
    me = threading.get_ident()
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    qf.quality_filter(df)
    monkeypatch.undo()
    assert 0 < len(sent) <= 150


@pytest.mark.parametrize(
    "kwargs", [{}, {"with_ppl": False}, {"caption_col": "text"}],
    ids=["default", "no_ppl", "text_col"],
)
def test_cached_build_plans_like_a_first_build(spark, monkeypatch, kwargs):
    df = _frame(spark, kwargs.get("caption_col", "caption"))
    for build in (qf.quality_filter, qf.annotate):
        monkeypatch.setattr(qf, "_PROJECTIONS", weakref.WeakKeyDictionary())
        first = _masked_plan(build(df, **kwargs))
        assert _masked_plan(build(df, **kwargs)) == first, build.__name__


def test_concurrent_first_calls_build_once(spark, monkeypatch):
    """The runner calls quality_filter from several threads at once
    (``concurrency > 1``): they must share one build, not race to several."""
    df = _frame(spark)
    monkeypatch.setattr(qf, "_PROJECTIONS", weakref.WeakKeyDictionary())
    builds = []
    build = qf._projection

    def counting(*key):
        builds.append(key)
        return build(*key)

    monkeypatch.setattr(qf, "_projection", counting)
    errors = []

    def call():
        try:
            qf.quality_filter(df)
        except Exception as exc:  # reported below; a thread cannot fail the test
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=call) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert builds == [("caption", True, None)]


def _rows(df) -> pd.DataFrame:
    pdf = df.toPandas()
    for n in pdf.columns:
        if n.startswith("drop_reasons"):
            pdf[n] = pdf[n].map(tuple)
    return pdf.sort_values("image_id").reset_index(drop=True)


def test_outputs_sharing_cached_columns_combine_in_one_plan(spark):
    """Two outputs built from the same cached Columns, unioned or
    self-joined in one plan, equal the outputs collected one at a time."""
    a = qf.quality_filter(_frame(spark, prefix="a"))
    b = qf.quality_filter(_frame(spark, prefix="b"))
    alone_a, alone_b = _rows(a), _rows(b)

    union = _rows(a.unionByName(b))
    expected = pd.concat([alone_a, alone_b]).sort_values("image_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(union, expected)

    renamed = a.select([F.col(n).alias(f"{n}_c") for n in a.columns])
    joined = _rows(a.join(renamed, a["image_id"] == renamed["image_id_c"]))
    assert len(joined) == len(CAPTIONS)
    for n in qf.OUTPUT_COLUMNS:
        pd.testing.assert_series_equal(joined[n], alone_a[n], check_names=False)
        pd.testing.assert_series_equal(joined[f"{n}_c"], alone_a[n], check_names=False)
