"""Table profiling — per-column row/null/distinct counts in ONE pass.

The data-quality primitive behind "does this table look right": the
reference surfaces per-column issue counters on comparisons
(``/root/reference/src/xoverrr/utils.py:524-548``); profiling generalizes
that to a standalone table scan, the usual first step before wiring a
check.

Scale shape: every counter rides a single ``agg`` — one job, one scan.
``countDistinct`` over many columns expands via Spark's Expand operator
(rows x columns intermediate), which is exact and fine for tens of
columns. Counts are integers, so the profile replays value-for-value in
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_rows

_DIST_SCHEMA = "column_name string, hist_l1 double, src_n bigint, trg_n bigint"


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """(column_name, n_rows, n_nulls, n_distinct) per column — exact."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__distinct"))
    row = df.agg(*aggs)
    melted = row.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.col("__n").alias("n_rows"),
                    F.col(f"{c}__nulls").alias("n_nulls"),
                    F.col(f"{c}__distinct").alias("n_distinct"),
                )
                for c in cols
            ])
        ).alias("p")
    ).select("p.*")
    return melted


def freshness(df: DataFrame, ts_col: str, as_of=None) -> DataFrame:
    """One row: (n_rows, n_ts, max_ts, lag_seconds) — how stale is the
    newest row relative to ``as_of`` (a timestamp literal/Column; defaults
    to ``current_timestamp()``).

    The primitive behind ``checker.check_freshness`` (dbt-style source
    freshness: "has this feed landed lately"). ``lag_seconds`` is null
    when the table is empty or the column all-null — the caller decides
    that that FAILS (staleness unknown is not staleness zero). Pass an
    explicit ``as_of`` for deterministic replay (the DuckDB oracle twin
    can't replay ``now()``); production monitors omit it.

    Scale shape: a single max-aggregate — one scan, no shuffle beyond
    the final single-row combine. For temporal/numeric columns the
    aggregates run over the RAW column (cast applied AFTER the max —
    equivalent because these casts are monotone and, under ANSI, never
    null out a value), which keeps the aggregate eligible for parquet
    AGGREGATE PUSHDOWN: with ``spark.sql.parquet.aggregatePushdown=true``
    and parquet removed from ``spark.sql.sources.useV1SourceList``, a
    DATE or epoch-BIGINT event-time column answers this check from file
    FOOTERS alone — zero data pages read at any table size. Spark's
    parquet reader does NOT push down TIMESTAMP max (any encoding;
    pinned in tests/test_pushdown.py), so a 100-TB feed that wants
    footer-only freshness should carry an epoch-seconds or date partner
    column. String columns keep the cast-first path (lexicographic max
    of strings is not the temporal max).
    """
    from pyspark.sql import Column
    from pyspark.sql.types import (
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    if ts_col not in df.columns:
        raise ValueError(f"no such column: {ts_col}")
    if as_of is None:
        ref = F.current_timestamp()
    elif isinstance(as_of, Column):
        ref = as_of.cast("timestamp")
    else:
        ref = F.lit(as_of).cast("timestamp")
    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, (TimestampType, TimestampNTZType, DateType, NumericType)):
        raw = F.col(ts_col)  # cast after the agg: pushdown-eligible
        max_ts = F.max(raw).cast("timestamp")
        n_ts = F.count(raw)
    else:
        ts = F.col(ts_col).cast("timestamp")
        max_ts = F.max(ts)
        n_ts = F.count(ts)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        n_ts.alias("n_ts"),
        max_ts.alias("max_ts"),
        (ref.cast("long") - max_ts.cast("long")).alias("lag_seconds"),
    )


def freshness_by_group(
    df: DataFrame, ts_col: str, group_cols: list[str], as_of=None,
) -> DataFrame:
    """Per-group freshness: (group_cols..., n_rows, n_ts, max_ts,
    lag_seconds), one row per group — the check the GLOBAL max cannot do.

    A multi-source feed passes a global-max freshness check as long as
    ANY source still lands rows: the global max hides a dead partner
    behind a healthy one. Grouping by the source/partition key surfaces
    exactly which feed stalled. One hash-aggregate scan (map-side
    combine: one max per group per mapper); groups are feed identities,
    so cardinality is small and the shuffle negligible. Same monotone
    raw-column aggregation as :func:`freshness` (cast after the max),
    so DATE/epoch columns keep their footer/statistics friendliness.
    """
    from pyspark.sql import Column

    if ts_col not in df.columns:
        raise ValueError(f"no such column: {ts_col}")
    missing = [g for g in group_cols if g not in df.columns]
    if missing or not group_cols:
        raise ValueError(f"group columns not found: {missing}")
    if as_of is None:
        ref = F.current_timestamp()
    elif isinstance(as_of, Column):
        ref = as_of.cast("timestamp")
    else:
        ref = F.lit(as_of).cast("timestamp")
    from pyspark.sql.types import (
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, (TimestampType, TimestampNTZType, DateType, NumericType)):
        col = F.col(ts_col)
        max_ts = F.max(col).cast("timestamp")
    else:
        col = F.col(ts_col).cast("timestamp")
        max_ts = F.max(col)
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(col).alias("n_ts"),
        max_ts.alias("max_ts"),
        (ref.cast("long") - max_ts.cast("long")).alias("lag_seconds"),
    )


def quantiles(
    df: DataFrame, value_col: str, probs: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact quantiles of ``value_col`` (optionally per group):
    (group..., q_<pct> for each prob). Linear-interpolated (type-7, the
    same rule DuckDB's quantile_cont uses, so the oracle replays it).

    Scale shape: Spark's exact ``percentile`` aggregate buffers each
    group's values on one reducer — fine for the daily/per-type group
    sizes this targets. For billion-row single groups switch to
    ``percentile_approx`` (t-digest, mergeable map-side)."""
    aggs = [
        F.percentile(F.col(value_col), F.lit(p)).alias(f"q_{int(round(p * 100))}")
        for p in probs
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def value_outliers(
    df: DataFrame, value_col: str, group_cols: list[str],
    z_threshold: float = 3.0, id_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group z-score outlier flags: rows whose ``value_col`` deviates
    more than ``z_threshold`` standard deviations from their group mean —
    the standard numeric-anomaly companion to the count-based
    ``counts.count_anomalies``.

    Cross-engine exactness: the group sums (sum, sum-of-squares) go
    through exact DECIMAL casts, so mean/std derive from identical exact
    sums on both engines and the per-row z arithmetic is the same IEEE op
    sequence — the DuckDB oracle replays it bit-for-bit. Population
    variance (the checkable definition; sample correction is a constant
    factor away). The stats join back is a broadcast (one row per group),
    null-safe on the group keys.
    """
    n = F.count(F.lit(1)).alias("_n")
    s = F.sum(F.col(value_col).cast("decimal(28,6)")).alias("_s")
    sq = F.sum((F.col(value_col) * F.col(value_col)).cast("decimal(28,6)")).alias("_sq")
    stats = df.groupBy(*group_cols).agg(n, s, sq)
    mean = (F.col("_s").cast("double") / F.col("_n")).alias("_mean")
    var = (F.col("_sq").cast("double") / F.col("_n") - F.col("_mean") * F.col("_mean"))
    stats = (
        stats.withColumn("_mean", mean)
        .withColumn("_std", F.sqrt(F.greatest(var, F.lit(0.0))))
        .select(
            *[F.col(c).alias(f"_g_{c}") for c in group_cols], "_mean", "_std"
        )
    )
    cond = None
    for c in group_cols:
        e = F.col(c).eqNullSafe(F.col(f"_g_{c}"))
        cond = e if cond is None else cond & e
    z = F.when(
        F.col("_std") > 0, (F.col(value_col) - F.col("_mean")) / F.col("_std")
    ).otherwise(F.lit(0.0))
    keep = (id_cols or []) + group_cols + [value_col]
    return (
        df.join(F.broadcast(stats), cond)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= z_threshold)
        .select(*keep, F.col("z").cast("decimal(18,6)").cast("double").alias("z"))
    )


def profile_drift(
    src: DataFrame, trg: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Per-column drift between two table profiles — "did this reload /
    migration / new feed change the shape of the data": row/null/distinct
    counters side by side with deltas and null-rate change.

    Generalizes the reference's per-column issue counters
    (/root/reference/src/xoverrr/utils.py:524-548) from row-level diffs to
    distribution-level monitoring: profile_drift catches what a keyed diff
    can't see cheaply (a column going 10x more null, a distinct-count
    collapse from a broken join upstream) in two single-pass aggregates —
    no key, no shuffle of either table's rows, output is #columns rows.

    Rates are single int/int double divisions (bit-identical in the DuckDB
    oracle). Zero-row sides produce 0.0 rates, not nulls.
    """
    cols = columns or [c for c in src.columns if c in set(trg.columns)]
    return drift_from_profiles(profile(src, cols), profile(trg, cols))


def drift_from_profiles(src_profile: DataFrame, trg_profile: DataFrame) -> DataFrame:
    """Drift join over two PRECOMPUTED profile() frames — lets callers
    (checker.check_profile_drift) persist and time each side's profile
    aggregate separately before the tiny join."""
    ps = src_profile.select(
        "column_name",
        F.col("n_rows").alias("src_rows"),
        F.col("n_nulls").alias("src_nulls"),
        F.col("n_distinct").alias("src_distinct"),
    )
    pt = trg_profile.select(
        "column_name",
        F.col("n_rows").alias("trg_rows"),
        F.col("n_nulls").alias("trg_nulls"),
        F.col("n_distinct").alias("trg_distinct"),
    )

    def rate(n, d):
        return F.when(F.col(d) == 0, F.lit(0.0)).otherwise(
            F.col(n) * F.lit(1.0) / F.col(d)
        )

    return ps.join(pt, "column_name").select(
        "column_name",
        "src_rows", "trg_rows",
        (F.col("trg_rows") - F.col("src_rows")).alias("row_delta"),
        "src_nulls", "trg_nulls",
        "src_distinct", "trg_distinct",
        (F.col("trg_distinct") - F.col("src_distinct")).alias("distinct_delta"),
        rate("src_nulls", "src_rows").alias("src_null_rate"),
        rate("trg_nulls", "trg_rows").alias("trg_null_rate"),
    )


def histogram_drift(
    src: DataFrame,
    trg: DataFrame,
    columns: list[str],
    n_bins: int = 32,
) -> DataFrame:
    """Per-column histogram distance between two tables — catches the
    drift family profile counters are blind to: a distribution that
    shifts at CONSTANT row count, null rate, and distinct count (e.g. a
    mean shift from a broken unit conversion upstream).

    Returns ``(column_name, hist_l1, hist_tv, src_n, trg_n)`` where
    ``hist_l1 = sum_i |p_i - q_i|`` over shared fixed-width bins (p, q the
    two sides' normalized frequencies, l1 in [0, 2]) and ``hist_tv`` is
    the total-variation distance ``l1 / 2`` in [0, 1].

    Scale shape: bin edges come from the combined min/max (two single-row
    aggregates, collected — bounded driver pull like the diff stat rows),
    then ONE melted pass per side bins every column together (explode of
    per-column structs -> groupBy (column, bin) with map-side combine,
    shuffle size #cols x n_bins). Columns that are all-null on both sides
    or constant at the same value (lo == hi) carry no histogram signal and
    return hist_l1 = 0. A column with values on exactly one side scores
    l1 = 1 (all of one side's mass unmatched; the null-rate counter
    flags the same shift at 100%).

    Non-finite handling: bin edges come from FINITE values only (one NaN
    in the max would make the bin width NaN, silently binning every value
    identically on both sides), and NaN/±Inf values take a dedicated
    overflow bin — so a side growing NaNs registers as distance. The one
    blind spot: a column with NO finite values on either side is
    degenerate (0) even if its NaN counts differ.
    """
    if n_bins <= 0:
        raise ValueError("need n_bins > 0")
    if not columns:
        raise ValueError("no numeric columns to histogram")

    def _finite(c):
        # NaN/Inf poison the bin width (w = NaN => every value lands in
        # the last bin on BOTH sides and the distance silently reads 0) —
        # bounds come from finite values only; non-finite values get a
        # dedicated overflow bin below so a NaN-rate shift still registers.
        # try_cast, not cast: under ANSI a plain cast THROWS on a
        # non-numeric value (a src-numeric/trg-string type drift would
        # collapse the whole check into the generic error path instead of
        # scoring); try_cast nulls it, and the overflow-bin gate below then
        # counts the uncastable value like a NaN — type drift reads as
        # distance (r4 ADVICE).
        x = F.col(c).try_cast("double")
        return F.when(
            ~F.isnan(x) & (x > F.lit(float("-inf"))) & (x < F.lit(float("inf"))), x
        )

    def _bounds(df):
        aggs = []
        for c in columns:
            aggs.append(F.min(_finite(c)).alias(f"{c}__lo"))
            aggs.append(F.max(_finite(c)).alias(f"{c}__hi"))
        return df.agg(*aggs).collect()[0]

    bs, bt = _bounds(src), _bounds(trg)
    specs = []  # (column, lo, bin_width) for binnable columns
    degenerate = []  # columns with no histogram signal on either side
    for c in columns:
        los = [v for v in (bs[f"{c}__lo"], bt[f"{c}__lo"]) if v is not None]
        his = [v for v in (bs[f"{c}__hi"], bt[f"{c}__hi"]) if v is not None]
        if not los or min(los) >= max(his):
            degenerate.append(c)
        else:
            lo, hi = min(los), max(his)
            specs.append((c, lo, (hi - lo) / n_bins))

    spark = src.sparkSession

    def _binned(df, side):
        structs = []
        for c, lo, w in specs:
            fx = _finite(c)
            raw = F.floor((fx - F.lit(lo)) / F.lit(w))
            # greatest/least SKIP nulls (a null value would land in bin 0,
            # not stay null) — gate on the value explicitly. Non-finite
            # values (NaN/±Inf) take the overflow bin n_bins, so a side
            # growing NaNs shows up as distance instead of vanishing.
            b = F.when(
                fx.isNotNull(),
                F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)),
            ).otherwise(
                F.when(F.col(c).isNotNull(), F.lit(n_bins))
            )
            structs.append(
                F.struct(F.lit(c).alias("column_name"), b.alias("bin"))
            )
        return (
            df.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.*")
            .filter(F.col("bin").isNotNull())  # null value -> null bin
            .groupBy("column_name", "bin")
            .agg(F.count(F.lit(1)).alias(f"{side}_cnt"))
        )

    if specs:
        s = _binned(src, "src")
        t = _binned(trg, "trg")
        joined = s.join(t, ["column_name", "bin"], "full_outer").select(
            "column_name",
            F.coalesce("src_cnt", F.lit(0)).alias("src_cnt"),
            F.coalesce("trg_cnt", F.lit(0)).alias("trg_cnt"),
        )
        tot = joined.groupBy("column_name").agg(
            F.sum("src_cnt").alias("src_n"), F.sum("trg_cnt").alias("trg_n")
        )
        dist = (
            joined.join(tot, "column_name")
            .groupBy("column_name")
            .agg(
                F.sum(
                    F.abs(
                        F.coalesce(F.try_divide("src_cnt", "src_n"), F.lit(0.0))
                        - F.coalesce(F.try_divide("trg_cnt", "trg_n"), F.lit(0.0))
                    )
                ).alias("hist_l1"),
                F.first("src_n").alias("src_n"),
                F.first("trg_n").alias("trg_n"),
            )
        )
    else:
        dist = local_rows(spark, [], _DIST_SCHEMA)
    if degenerate:
        deg = local_rows(spark, [(c, 0.0, 0, 0) for c in degenerate], _DIST_SCHEMA)
        dist = dist.unionByName(deg)
    return dist.select(
        "column_name", "hist_l1", (F.col("hist_l1") / 2).alias("hist_tv"),
        "src_n", "trg_n",
    )


def histogram(
    df: DataFrame, value_col: str, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """Fixed-width histogram of ``value_col`` over [lo, hi): (bin, bin_lo,
    bin_hi, cnt). Values below lo clamp to bin 0, at/above hi to the last
    bin; nulls are excluded (their count is profile()'s job). One groupBy
    with map-side combine — the profiling companion to quantiles().

    Bin arithmetic is the single double chain floor((x-lo)/w) clamped —
    identical op order in the DuckDB twin."""
    if n_bins <= 0 or not hi > lo:
        raise ValueError("need n_bins > 0 and hi > lo")
    w = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)).cast("bigint")
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(w)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(w)).alias("bin_hi"),
            "cnt",
        )
    )


def key_skew_stats(
    df: DataFrame, keys: list[str], top_k: int = 20
) -> DataFrame:
    """Top-``top_k`` heaviest join-key groups with their share of all rows
    — the pre-flight check before any large join/groupBy (one key holding
    5% of a 10^11-row table means one reducer gets 5*10^9 rows; better to
    know BEFORE the shuffle and pick salting/broadcast/AQE-skew handling).

    One groupBy (map-side combined) + distributed top-k
    (TakeOrderedAndProject — never a global sort) + a broadcast single-row
    total. Null keys count as a real group (they hash to one reducer like
    any other value — the classic accidental-skew case).

    Returns (keys..., cnt, share) ordered by cnt desc, keys.
    """
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    top = counts.orderBy(F.desc("cnt"), *keys).limit(top_k)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            *keys, "cnt",
            (F.col("cnt") * F.lit(1.0) / F.col("_total")).alias("share"),
        )
        .orderBy(F.desc("cnt"), *keys)
    )
