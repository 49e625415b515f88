"""Dataset assembly for training pipelines: deterministic train/val/test
splitting, cross-split duplicate-leakage audit, and token-budget mixture
planning.

These extend the reference's single-table validation battery
(/root/reference/src/xoverrr/utils.py:262 rule predicates;
core.py check flows) with the corpus-ASSEMBLY operations a 100-TB
training-data pipeline needs around them: once documents are validated
and deduplicated, they must be split reproducibly, the splits must be
audited for duplicate leakage (the classic eval-contamination bug), and
per-source sampling rates must be derived from a token budget.

All three are pure DataFrame algebra — no UDFs, no driver-side state —
and every output is replayable in ANSI SQL for the DuckDB oracle
(split_case_sql builds the identical hash-threshold CASE expression).

Scale notes:
- ``assign_splits`` is a pure map (zero shuffle): the split is a
  threshold test on a 60-bit md5 of (seed, id), so the same row lands in
  the same split regardless of partitioning, retries, cluster size, or
  engine — required for resumable pipelines and for honoring a split
  committed months earlier.
- ``split_leakage`` is two hash aggregations plus one equi-join on the
  fingerprint (map-side combinable, skew-free keys: md5 output); it
  never self-joins documents.
- ``token_budget_mixture`` is one groupBy over sources (tiny result) —
  the corpus is scanned once; the returned per-source rates feed
  ``corpus.mixture_sample`` / ``deterministic_sample_flag`` without a
  second planning scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.tokens import fingerprint, md5_long, md5_long_sql, ws_token_count
from ..intermediates import persist

# The hash space of md5_long: first 15 hex chars of md5 = 60 bits.
SPLIT_SPACE = 1 << 60

NULL_ID_SENTINEL = "\x00<null-id>"
NULL_TEXT_SENTINEL = "\x00<null-text>"  # same value exact_dedup uses
NULL_SPLIT_SENTINEL = "\x00<null-split>"

# bigint headroom guard for rate_ppm integer math (target * 1e6 must fit)
_PPM = 1_000_000
_MAX_BUDGET = (1 << 63) // _PPM - 1


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """Cumulative integer thresholds over the 60-bit hash space.

    Validates up front (empty mapping, non-positive fraction, sum != 1)
    — config errors must raise at plan time, not produce a silently
    lopsided split. The LAST split's threshold is pinned to SPLIT_SPACE
    exactly so the assignment is exhaustive: every hash value falls in
    exactly one split even when the fractions don't divide 2^60 evenly.
    Insertion order of the dict is the threshold order (Python 3.7+
    dicts are ordered), so the same mapping always yields the same
    assignment.
    """
    if not fractions:
        raise ValueError("fractions must be a non-empty mapping")
    for name, frac in fractions.items():
        if not isinstance(name, str) or not name:
            raise ValueError(f"split name must be a non-empty string: {name!r}")
        if not (frac > 0):
            raise ValueError(f"split fraction must be > 0: {name}={frac}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    out: list[tuple[str, int]] = []
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        out.append((name, int(round(cum * SPLIT_SPACE))))
    out.append((names[-1], SPLIT_SPACE))
    # strictly increasing thresholds, or a fraction rounded to zero 60-bit
    # width and its split is silently unreachable — raise at plan time
    prev = 0
    for name, t in out:
        if t <= prev:
            raise ValueError(
                f"split {name!r} is unreachable: fraction too small to be "
                "representable in the 60-bit hash space"
            )
        prev = t
    return out


def _split_key_sql_duckdb(id_expr: str, seed: int) -> str:
    return (
        f"('{seed}:' || COALESCE(CAST({id_expr} AS VARCHAR), "
        f"chr(0) || '<null-id>'))"
    )


def assign_splits(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Add a deterministic ``split_col`` ('train'/'val'/... per
    ``fractions``) chosen by thresholding md5_long(seed ':' id) over the
    60-bit space.

    Content-deterministic like ``deterministic_sample_flag`` (and unlike
    ``df.randomSplit``, whose assignment depends on partitioning and
    changes under AQE/retries): the same (seed, id) is ALWAYS in the
    same split, on any cluster size, and the DuckDB oracle replays the
    identical CASE expression (``split_case_sql``). Changing ``seed``
    re-rolls the whole assignment.

    Null ids hash a sentinel string, so they all land together in one
    deterministic split instead of becoming a null split (same
    null-key discipline as exact_dedup's fingerprint sentinel).
    Exhaustive + disjoint by construction: the when-chain tests
    cumulative thresholds in order and the last split catches the rest.

    GROUP-keyed splitting: pass a group column (source/domain/url-host)
    as ``id_col`` and every document of a group lands in the SAME split
    — the standard defense against intra-domain near-duplicate leakage
    (per-doc splitting puts two scrapes of one site on both sides of
    the eval boundary; splitting by the domain key makes that
    impossible by construction). The fractions then apply to GROUPS,
    not documents, so doc-level proportions track group sizes.
    """
    if split_col in df.columns:
        raise ValueError(f"column {split_col!r} already exists in the input")
    ths = split_thresholds(fractions)
    key = F.concat(
        F.lit(f"{seed}:"),
        F.coalesce(F.col(id_col).cast("string"), F.lit(NULL_ID_SENTINEL)),
    )
    h = md5_long(key)
    expr = None
    for name, t in ths[:-1]:
        cond = h < F.lit(t)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(ths[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal with quote doubling — a split or
    source name containing a quote must not break the generated twin."""
    return "'" + s.replace("'", "''") + "'"


def split_case_sql(id_expr: str, fractions: dict[str, float], seed: int = 0) -> str:
    """DuckDB CASE expression computing the identical split assignment
    (same md5 input string, same 60-bit parse, same integer thresholds)."""
    ths = split_thresholds(fractions)
    h = md5_long_sql(_split_key_sql_duckdb(id_expr, seed))
    if len(ths) == 1:
        return _sql_str(ths[0][0])
    branches = " ".join(
        f"WHEN {h} < {t} THEN {_sql_str(name)}" for name, t in ths[:-1]
    )
    return f"(CASE {branches} ELSE {_sql_str(ths[-1][0])} END)"


def split_leakage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str,
) -> DataFrame:
    """Documents whose exact-duplicate group spans >= 2 splits — the
    eval-contamination audit every train/val/test split needs (a test
    document with a training-set duplicate silently inflates eval).

    Returns one row per LEAKED document:
    ``(id_col, split_col, text_fp, n_splits, splits)`` where ``splits``
    is the sorted comma-joined set of splits the fingerprint appears in.
    Empty result = no leakage. Null texts share the exact_dedup
    fingerprint sentinel (they are duplicates of each other, so a null
    text in train and another in test IS a leak and is reported); a
    null split value (shouldn't happen downstream of assign_splits, but
    upstream data can carry anything) is coalesced to a sentinel so the
    row is counted rather than silently skipped by collect_list.

    Plan: project -> ONE window over text_fp computing the distinct split
    set per fingerprint -> per-row filter. One fingerprint pass and one
    shuffle (r6): the previous distinct+groupBy+join-back formulation fed
    the fingerprint projection into TWO plan branches — branches of a
    lazy plan never share execution, so the md5-of-normalized-text map
    ran twice over the full corpus, plus a second shuffle for the join.
    Values identical (collect_set over the fp partition == collect_list
    over distinct (fp, split) pairs; both sorted before joining). Dup
    groups are corpus-bounded (exact-dup families), so the window
    partition never serializes a meaningful fraction of the data.
    """
    from pyspark.sql.window import Window

    d = df.select(
        F.col(id_col),
        F.coalesce(F.col(split_col), F.lit(NULL_SPLIT_SENTINEL)).alias("_split"),
        F.coalesce(fingerprint(F.col(text_col)), F.lit(NULL_TEXT_SENTINEL)).alias(
            "text_fp"
        ),
    )
    w = Window.partitionBy("text_fp")
    return (
        d.withColumn("_splitset", F.sort_array(F.collect_set("_split").over(w)))
        .filter(F.size("_splitset") >= 2)
        .select(
            F.col(id_col),
            F.col("_split").alias(split_col),
            "text_fp",
            # cast: the previous COUNT aggregate emitted bigint; size() is
            # int and a changed output dtype would flip the driver's hash
            F.size("_splitset").cast("bigint").alias("n_splits"),
            F.array_join("_splitset", ",").alias("splits"),
        )
    )


def token_budget_mixture(
    df: DataFrame,
    source_col: str,
    text_col: str,
    weights: dict[str, float],
    budget_tokens: int,
    allow_upsample: bool = False,
) -> DataFrame:
    """Per-source sampling plan to assemble a ``budget_tokens`` mixture
    with relative ``weights`` — the planning half of dataset mixing
    (``corpus.mixture_sample`` is the apply half).

    Returns one row per source present in the corpus:
    ``(source, n_docs, n_tokens, target_tokens, epochs, rate_ppm,
    planned_tokens)``
    - ``target_tokens``: floor(budget * weight / sum(weights)), computed
      driver-side so it is an exact integer literal in both engines.
    - ``epochs`` / ``rate_ppm``: with ``allow_upsample=False`` (default)
      epochs is always 0 and rate_ppm = floor(1e6 * target / n_tokens)
      capped at 1e6 — a short source under-fills its slot. With
      ``allow_upsample=True`` an under-supplied source REPEATS:
      epochs = target div n_tokens full passes plus a fractional pass of
      rate_ppm = floor(1e6 * (target mod n_tokens) / n_tokens) — how
      production mixtures actually treat high-weight small corpora
      (Wikipedia at multiple epochs in LLaMA/GPT-3-style recipes).
      Pure bigint math (``div``/``%``), bit-identical in the DuckDB twin.
    - ``planned_tokens``: what the plan delivers — min(target, n_tokens)
      when capped (shortfall visible), exactly target when upsampling.

    Sources WITHOUT a weight get target 0 / rate 0 but still appear in
    the output — visible, not silently kept (the least(NULL, 1.0)
    mixture_sample trap, caught in r3, is exactly the failure mode this
    avoids). A null source is likewise reported with rate 0. Sources
    with zero tokens (all-null/blank texts) get epochs/rate 0 — there is
    nothing to sample or repeat.
    """
    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    if budget_tokens > _MAX_BUDGET:
        raise ValueError(
            f"budget_tokens too large for exact ppm math (max {_MAX_BUDGET}); "
            "plan in units of 1k tokens instead"
        )
    negative = {s: w for s, w in weights.items() if w < 0}
    if negative:
        # a negative weight deflates sum(weights) and silently INFLATES
        # every other source's target — reject even when the sum stays
        # positive
        raise ValueError(f"weights must be non-negative, got {negative}")
    wsum = sum(weights.values()) if weights else 0.0
    if weights and wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    targets = {
        s: int(budget_tokens * w / wsum) for s, w in weights.items() if w > 0
    }
    per_source = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws_token_count(F.col(text_col))).alias("n_tokens"),
    )
    target = None
    for s, t in targets.items():
        cond = F.col("source") == F.lit(s)
        target = F.when(cond, F.lit(t)) if target is None else target.when(cond, F.lit(t))
    target = F.lit(0) if target is None else target.otherwise(F.lit(0))
    out = per_source.withColumn("target_tokens", target.cast("bigint"))
    has_tokens = F.col("n_tokens") > 0
    if allow_upsample:
        epochs = F.when(has_tokens, F.expr("target_tokens div n_tokens"))
        rate = F.when(
            has_tokens,
            F.expr(f"((target_tokens % n_tokens) * {_PPM}) div n_tokens"),
        )
        planned = F.when(has_tokens, F.col("target_tokens")).otherwise(F.lit(0))
    else:
        epochs = F.lit(0)
        rate = F.when(
            has_tokens,
            F.least(
                F.lit(_PPM).cast("bigint"),
                F.expr(f"(target_tokens * {_PPM}) div n_tokens"),
            ),
        )
        # least skips nulls: an all-null-text source (null n_tokens) would
        # be planned its full target
        planned = F.when(
            has_tokens, F.least(F.col("target_tokens"), F.col("n_tokens"))
        ).otherwise(F.lit(0))
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        "target_tokens",
        F.coalesce(epochs, F.lit(0)).cast("bigint").alias("epochs"),
        F.coalesce(rate, F.lit(0)).cast("bigint").alias("rate_ppm"),
        planned.cast("bigint").alias("planned_tokens"),
    )


def assemble_dataset(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    fractions: dict[str, float],
    weights: dict[str, float],
    budget_tokens: int,
    seed: int = 0,
    train_split: str = "train",
) -> DataFrame:
    """End-to-end dataset assembly recipe: deterministic split ->
    cross-split leakage quarantine -> token-budget sampling of the
    training split. Returns ``(id_col, split, source_col)`` for every
    document in the assembled dataset — all eval-split survivors plus
    the budget-sampled training survivors. The composition analogue of
    the curate_documents recipes, for the assembly stage.

    Quarantine policy: for every duplicate group that spans splits, the
    TRAINING copies are dropped and the eval copies kept — eval sets are
    the contract you can't change after the fact; the training set is
    the side you re-cut (the standard decontamination direction: Brown
    et al. 2020 appendix C removes TRAIN documents colliding with
    benchmarks, not the reverse).

    The budget plan is computed AFTER quarantine (you sample from what
    you may train on), in capped mode — assembly emits each kept doc
    once; epoch-level repetition (allow_upsample) belongs to the data
    loader, not the materialized dataset. Sampling uses an independent
    hash stream (md5_long('sample:seed:id')) so sampling is uncorrelated
    with split assignment.

    Null discipline: the quarantine anti-join and the per-source rate
    join are both null-safe (a null-id training leak must still be
    dropped; null-source docs match the plan's null-source rate-0 row
    and drop out visibly rather than erroring).

    Plan shape: the split-assigned corpus is persisted ONCE (it feeds
    the leakage audit twice, the training branch, and the eval branch —
    without the cache the scan+fingerprint would run 5x); the leaked-id
    and rate frames are tiny and broadcast. The caller's
    ``intermediates.scope()`` frees the cache once the result is
    materialized.
    """
    own = persist(assign_splits(df, id_col, fractions, seed=seed))
    leaked = split_leakage(own, id_col, text_col, "split")
    # alias the quarantine key: drop_train derives from `own`, so joining
    # on own[id] == drop_train[id] is the classic self-join attribute
    # ambiguity (Spark warns "trivially true predicate") — a renamed
    # column is unambiguous by construction
    drop_train = (
        leaked.filter(F.col("split") == train_split)
        .select(F.col(id_col).alias("_drop_id"))
        .distinct()
    )
    clean = own.join(
        drop_train,
        on=F.col(id_col).eqNullSafe(F.col("_drop_id")),
        how="left_anti",
    )
    train = clean.filter(F.col("split") == train_split)
    plan = token_budget_mixture(
        train, source_col, text_col, weights, budget_tokens
    ).select(F.col("source").alias("_plan_src"), "rate_ppm")
    sample_key = F.concat(
        F.lit(f"sample:{seed}:"),
        F.coalesce(F.col(id_col).cast("string"), F.lit(NULL_ID_SENTINEL)),
    )
    sampled_train = (
        train.join(
            plan,
            on=F.col(source_col).eqNullSafe(F.col("_plan_src")),
            how="left",
        )
        .filter(
            (md5_long(sample_key) % _PPM) < F.coalesce(F.col("rate_ppm"), F.lit(0))
        )
        .select(id_col, "split", source_col)
    )
    return (
        clean.filter(F.col("split") != train_split)
        .select(id_col, "split", source_col)
        .unionByName(sampled_train)
    )


def near_dup_pair_leakage(
    pairs: DataFrame,
    splits_df: DataFrame,
    id_col: str,
    split_col: str,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
) -> DataFrame:
    """Cross-split NEAR-duplicate leakage: from any near-dup pair frame
    (``dedup.minhash_near_dups``, ``simhash_near_dups``,
    ``similarity.embedding_near_dup_pairs`` — anything with two id
    columns), keep the pairs whose two documents sit in DIFFERENT
    splits of ``splits_df``.

    ``split_leakage`` catches byte-identical copies; real eval
    contamination is mostly NEAR-duplicate (GPT-3's 13-gram overlap
    decontamination, Brown et al. 2020 appendix C; The Pile and Llama
    card analyses both report near-dup benchmark overlap) — this is the
    detector-agnostic audit for that. Output: the pair frame's columns
    plus ``split_a``/``split_b``.

    Plan: two hash equi-joins of the (small) pair frame against the
    (id, split) projection — the corpus itself is never joined to
    itself here; the detector already did the banding. Null-safe join
    keys so a null-id doc (which assign_splits places deterministically)
    still attributes; pairs with an id absent from ``splits_df`` are
    dropped by the inner join — a pair you cannot attribute to splits
    is a detector/corpus mismatch the caller should fix, not silently
    score.
    """
    s = splits_df.select(F.col(id_col), F.col(split_col))
    a = s.select(F.col(id_col).alias("_sa_id"), F.col(split_col).alias("split_a"))
    b = s.select(F.col(id_col).alias("_sb_id"), F.col(split_col).alias("split_b"))
    return (
        pairs.join(a, on=F.col(left_col).eqNullSafe(F.col("_sa_id")), how="inner")
        .join(b, on=F.col(right_col).eqNullSafe(F.col("_sb_id")), how="inner")
        # null-safe inequality: with a caller-provided splits_df a null
        # split vs 'train' IS cross-split (plain != returns null and the
        # filter would silently drop the pair); null vs null is not
        .filter(~F.col("split_a").eqNullSafe(F.col("split_b")))
        .drop("_sa_id", "_sb_id")
    )
