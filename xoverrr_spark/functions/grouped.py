"""Grouped-aggregate pandas UDFs — the GROUPED_AGG flavor of the Arrow UDF
surface (SURVEY §2.8). The rest of the matrix is exercised elsewhere:
SCALAR pandas UDF (perplexity), mapInPandas (multimodal),
applyInPandasWithState (streaming dedup/sessions).

Use sparingly: a GROUPED_AGG UDF buffers each group's column in one
worker's memory (no partial aggregation), so it is for metrics with no
JVM-side equivalent — here the median absolute deviation, whose double
median has no builtin. Bounded-size groups only (per event_type / per
source); a billion-row group needs an approximate two-pass formulation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pyworker import forget_zip_importers


def _mad(v: pd.Series) -> float:
    forget_zip_importers()
    a = v.dropna().to_numpy(dtype=np.float64)
    if a.size == 0:
        return float("nan")
    return float(np.median(np.abs(a - np.median(a))))


def mad_udf(col: Column) -> Column:
    """Median absolute deviation of ``col`` per group — robust spread
    (outlier-insensitive where stddev is dominated by the tail). Built per
    call: pyspark ties a UDF's JVM function to the SparkContext that first
    used it."""
    return F.pandas_udf(_mad, "double")(col)


def robust_spread(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """(group..., n, mad, stddev) per group — MAD beside the classical
    stddev so monitoring can see when the two diverge (heavy tails).

    Spark REFUSES to mix a GROUPED_AGG pandas UDF with JVM aggregates in
    one ``agg`` (INVALID_PANDAS_UDF_PLACEMENT), so the two halves run as
    separate aggregations joined null-safely on the group keys — two
    passes over the (already shuffled) groups, not two corpus scans when
    the caller persists the input."""
    jvm = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.stddev_samp(F.col(value_col)).alias("stddev"),
    )
    mad = df.groupBy(*group_cols).agg(mad_udf(F.col(value_col)).alias("mad"))
    m2 = mad.select(
        *[F.col(c).alias(f"_g_{c}") for c in group_cols], "mad"
    )
    cond = None
    for c in group_cols:
        e = jvm[c].eqNullSafe(m2[f"_g_{c}"])
        cond = e if cond is None else (cond & e)
    return jvm.join(m2, cond).select(*group_cols, "n", "mad", "stddev")
