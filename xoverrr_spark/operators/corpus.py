"""Corpus-level curation operators — per-source (domain) caps and
source-quality aggregation, the standard web-scale companions to the
per-row quality filter (cap boilerplate-heavy domains, drop low-quality
sources wholesale).

Generalizes the reference's per-group example-capping convention
(``/root/reference/src/xoverrr/utils.py:387-391`` bounded per-column
examples; ``core.py:1290-1313`` per-category caps) from report examples to
corpus curation. All hash math rides md5 so the DuckDB oracle replays it
value-for-value.

Scale notes (10^9+ docs):

- ``cap_per_source`` (exact): rank-within-source window — one shuffle on
  source. A window partition cannot be split by AQE, so a single hot
  domain with 10^8 docs serializes on one task. Exact form is for
  moderate-cardinality groups.
- ``cap_per_source_hash`` (scale path): deterministic hash-threshold —
  keeps ~k docs per source with NO window: one count aggregate + one join
  + a per-row predicate. Hot domains stay fully parallel; selection is
  stable under repartitioning (pure function of doc_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.tokens import md5_long


def cap_per_source(
    df: DataFrame, source_col: str, id_col: str, k: int
) -> DataFrame:
    """Keep at most ``k`` docs per source — the k smallest ids
    (deterministic under any partitioning)."""
    w = Window.partitionBy(source_col).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cap_per_source_hash(
    df: DataFrame, source_col: str, id_col: str, k: int
) -> DataFrame:
    """Keep ~``k`` docs per source via a deterministic hash threshold —
    the windowless scale path for hot domains.

    doc kept iff ``md5_long(id) mod n_source < k`` where n_source is the
    source's doc count: each doc survives with probability k/n, keeping k
    in expectation, chosen by a pure function of the id (stable across
    runs/partitionings). Replayable in DuckDB with the same md5 math.

    The count join is NULL-SAFE: scraped corpora always contain docs with
    a null source/domain, groupBy puts them in one group, and a plain
    equi-join back would drop every one of them (null keys never match) —
    the window form caps them as one group, so this form must too.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    counts = counts.withColumnRenamed(source_col, "_src_n")
    return (
        df.join(counts, F.col(source_col).eqNullSafe(F.col("_src_n")))
        .filter(F.pmod(md5_long(F.col(id_col).cast("string")), F.col("_n")) < k)
        .drop("_n", "_src_n")
    )


def source_keep_rate(
    decisions: DataFrame, docs: DataFrame | None = None,
    id_col: str = "doc_id", source_col: str = "source",
) -> DataFrame:
    """(source, total_docs, kept_docs, keep_pct) — the aggregation behind
    source-level filtering (drop a whole domain when its keep rate is
    pathological). ``decisions`` is quality_filter output keyed by
    ``id_col``. Pass ``docs=None`` when ``decisions`` already carries
    ``source_col`` (quality_filter keeps every input column) — that skips
    a second full corpus scan AND the id-key shuffle join, leaving ONE
    groupBy; the join form exists for decisions computed elsewhere."""
    if docs is None:
        joined = decisions.select(F.col(source_col), "keep")
    else:
        joined = decisions.select(F.col(id_col), "keep").join(
            docs.select(F.col(id_col), F.col(source_col)), id_col
        )
    return joined.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.count(F.when(F.col("keep"), 1)).alias("kept_docs"),
        (
            F.count(F.when(F.col("keep"), 1)) * 100.0 / F.count(F.lit(1))
        ).alias("keep_pct"),
    )


def remove_boilerplate_lines(
    df: DataFrame, id_col: str, text_col: str, max_line_doc_freq: int,
) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate removal: a line
    (trim-normalized) appearing in MORE than ``max_line_doc_freq`` distinct
    documents is dropped from every document (nav bars, cookie banners,
    share buttons — the classic web-corpus noise that per-document dedup
    cannot touch because the surrounding text differs).

    Scale shape (the canonical pipeline form): posexplode lines -> one
    count-distinct-docs aggregate keyed by line hash (partial map-side
    combine) -> semi-join rare lines -> regroup per doc. Order is
    preserved by sorting the (pos, line) structs inside the row, never a
    global sort. Docs whose every line is boilerplate come back with an
    empty string (left join keeps the row — dropping it is the quality
    filter's decision, not this operator's).

    Returns all input columns + ``text_clean`` + ``n_lines_removed``.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_lkey", F.md5(F.trim(F.col("_line"))))
    rare = (
        lines.groupBy("_lkey")
        .agg(F.countDistinct(F.col(id_col)).alias("_docs"))
        .filter(F.col("_docs") <= max_line_doc_freq)
        .select("_lkey")
    )
    kept = lines.join(rare, "_lkey", "left_semi")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("_kept_lines"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("_total_lines"))
    return (
        df.join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .withColumn("text_clean", F.coalesce("text_clean", F.lit("")))
        .withColumn(
            "n_lines_removed",
            F.coalesce("_total_lines", F.lit(0)) - F.coalesce("_kept_lines", F.lit(0)),
        )
        .drop("_total_lines", "_kept_lines")
    )


def top_quality_fraction(
    df: DataFrame, group_col: str, score_col: str, keep_frac: float
) -> DataFrame:
    """Keep the top ``keep_frac`` of rows per group by score — EXACT form
    via percent_rank (kept iff pr >= 1 - keep_frac; score ties share a rank,
    so the kept set is deterministic under any partitioning).

    Scale caveat (same as cap_per_source): a window partition cannot be
    split by AQE, so a dominant group (one language can be half a web
    corpus) serializes on one task. Exact form is for moderate group sizes.
    """
    w = Window.partitionBy(group_col).orderBy(score_col)
    return (
        df.withColumn("_pr", F.percent_rank().over(w))
        .filter(F.col("_pr") >= 1.0 - keep_frac)
        .drop("_pr")
    )


# hash-threshold resolution for mixture sampling (2^20 buckets: rate
# granularity ~1e-6, and md5_long % 2^20 stays uniform)
MIXTURE_BUCKETS = 1 << 20


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    target_frac: float,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dataset mixing: resample the corpus to ``target_frac`` of its size
    with per-source mixture ``weights`` (the "data recipe" step of an LLM
    training pipeline — e.g. 50% curated web, 20% code, ...).

    Per-source sampling rate ``min(1, w_s * target_frac * total / n_s)``;
    a source's rate caps at 1 (can't upsample — short sources under-fill
    their slot rather than duplicating rows). Sources absent from
    ``weights`` are dropped. Selection is a deterministic hash threshold
    (``md5_long(id) mod 2^20 < floor(rate * 2^20)``): stable under
    partitioning/retries, replayable in the DuckDB oracle.

    Shape: one tiny per-source count aggregate (+unbounded window over
    #sources rows), broadcast back, per-row predicate — no shuffle of the
    corpus itself, hot sources stay fully parallel.

    Float determinism: per-source ``w*frac`` is folded to a Python literal;
    the remaining ops (*total, /n, min, *2^20, floor) run in one fixed
    order in both engines, so thresholds are bit-identical.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    counts = counts.withColumn(
        "_total", F.sum("_n").over(Window.partitionBy())
    )
    wf: Column = F.lit(None).cast("double")
    for s, w in weights.items():
        wf = F.when(F.col(source_col) == s, F.lit(w * target_frac)).otherwise(wf)
    # least() IGNORES nulls in both Spark and DuckDB (least(NULL, 1.0) =
    # 1.0), so an unweighted source would silently get rate 1.0 — guard the
    # null BEFORE the min, and mirror the guard in the oracle
    th = counts.select(
        F.col(source_col).alias("_src"),
        F.when(
            wf.isNotNull(),
            F.floor(
                F.least(wf * F.col("_total") / F.col("_n"), F.lit(1.0))
                * F.lit(float(MIXTURE_BUCKETS))
            ).cast("bigint"),
        ).alias("_th"),
    ).filter(F.col("_th").isNotNull())
    return (
        df.join(F.broadcast(th), F.col(source_col).eqNullSafe(F.col("_src")))
        .filter(
            F.pmod(md5_long(F.col(id_col).cast("string")), F.lit(MIXTURE_BUCKETS))
            < F.col("_th")
        )
        .drop("_src", "_th")
    )


def pack_documents(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing: assign docs to contiguous token-budget packs — the
    "fill each training context window" step of an LLM data pipeline.

    Deterministic contiguous form (the scalable standard, not exact bin
    packing, which is inherently sequential): within each group ordered by
    id, ``pack_id = floor(tokens_before_me / budget)``. Packs fill to at
    least ``budget`` before a new one starts; the doc straddling a boundary
    belongs to the pack its prefix started in (training loaders truncate or
    roll the remainder). One running-sum window per group — the same
    skew caveat as cap_per_source: a dominant group serializes, so group by
    something with bounded cardinality-per-group (source/shard), not the
    whole corpus.

    Returns (id_col, group_col, n_tokens, pack_id).
    """
    from ..functions.tokens import ws_token_count

    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    toks = df.select(
        F.col(id_col), F.col(group_col),
        ws_token_count(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.select(
        id_col, group_col, "n_tokens",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(budget_tokens)
        ).cast("bigint").alias("pack_id"),
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into (possibly overlapping) token windows —
    the standard max-sequence-length preparation step (the inverse of
    ``pack_documents``: packing fills short docs into a budget, chunking
    cuts long docs down to it).

    Windows start every ``stride`` tokens (default = max_tokens, i.e.
    disjoint); each holds up to ``max_tokens`` whitespace tokens. The
    final window is the remainder (never empty, never duplicated: a doc
    with n tokens yields ceil-style starts 0, stride, ... < n). Documents
    with no tokens (empty/whitespace/null text) yield NO chunks —
    dropping empties is the quality filter's call upstream.

    Pure Column expressions (split -> sequence -> transform -> posexplode):
    no shuffle at all — chunking is embarrassingly parallel and stays in
    whole-stage codegen until the explode.

    Returns (id_col, chunk_idx, n_chunk_tokens, chunk_text).
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    stride = max_tokens if stride is None else int(stride)
    if not 0 < stride <= max_tokens:
        raise ValueError("stride must be in (0, max_tokens]")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
        F.size(words)
    )
    # starts: 0, stride, 2*stride, ... strictly below n (1-based slice)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(words, s + 1, max_tokens))
    )
    out = df.select(
        F.col(id_col),
        F.posexplode(F.when(n > 0, chunks).otherwise(F.array().cast("array<string>")))
        .alias("chunk_idx", "chunk_text"),
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.size(F.split("chunk_text", r"\s+")).alias("n_chunk_tokens"),
        "chunk_text",
    )
