"""Referential-integrity (foreign-key orphan) detection.

The reference's count comparison (core.py:520) can tell two tables
disagree in SIZE and its sample diff (core.py:1245) can tell matched
rows disagree in VALUES, but neither answers the classic warehouse
question "which child rows reference a parent that does not exist?".
This module adds that check as a first-class operator: an anti-join of
the child's foreign-key columns against the parent's key columns.

Semantics follow ANSI FK constraints: a child row with a NULL in any
foreign-key column SATISFIES the constraint (it references nothing), so
it is never an orphan — but because silent null keys are a real-feed
hazard (CLAUDE.md null-key discipline), the checker facade reports the
null-FK row count separately instead of folding it into either bucket.

Scale shape: one shuffle of both sides hashed on the key (Catalyst
prunes the parent scan to the key columns; a LeftAnti join carries no
payload from the right side). For a dimension-sized parent pass
``broadcast_parent=True`` and the orphan scan is shuffle-FREE on the
child — the plan a 100-TB fact table needs. AQE handles skewed FK
distributions (session sets forceOptimizeSkewedJoin for join shapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _normalize_keys(
    keys: list | tuple,
) -> list[tuple[str, str]]:
    """Accept ["k"] or [("child_col", "parent_col")] forms; return pairs."""
    pairs = []
    for k in keys:
        if isinstance(k, str):
            pairs.append((k, k))
        else:
            child_col, parent_col = k
            pairs.append((child_col, parent_col))
    if not pairs:
        raise ValueError("at least one foreign-key column is required")
    return pairs


def fk_orphans(
    child: DataFrame,
    parent: DataFrame,
    keys: list,
    broadcast_parent: bool = False,
) -> DataFrame:
    """Child rows whose (non-null) foreign key has no match in ``parent``.

    ``keys``: list of child column names (parent columns share the name)
    or ``(child_col, parent_col)`` pairs for renamed keys; composite keys
    are all pairs together. Rows with a NULL in ANY fk column are
    excluded (ANSI FK semantics; ``QualityChecker.check_referential``
    counts them separately). Returns the full child rows, so callers can
    project examples without a second scan.
    """
    pairs = _normalize_keys(keys)
    missing = [c for c, _ in pairs if c not in child.columns]
    missing += [p for _, p in pairs if p not in parent.columns]
    if missing:
        raise ValueError(f"fk columns not found: {missing}")
    non_null = child
    for c, _ in pairs:
        non_null = non_null.where(F.col(c).isNotNull())
    # the anti join needs only the parent's key columns — project them
    # explicitly so a broadcast ships keys, not the whole dimension row
    pkeys = parent.select(*[F.col(p) for _, p in pairs])
    if broadcast_parent:
        pkeys = F.broadcast(pkeys)
    cond = None
    for c, p in pairs:
        clause = non_null[c] == pkeys[p]
        cond = clause if cond is None else (cond & clause)
    return non_null.join(pkeys, cond, "left_anti")


def key_duplication(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-key row counts — the shared frame behind the uniqueness check
    (``(key_cols..., row_count)``, one row per distinct key tuple).

    The reference treats duplicate keys as a side effect inside its
    sample diff (it silently drops them with ``keep='first'``,
    /root/reference/src/xoverrr/utils.py:457); this engine's diff
    operator already surfaces them per comparison (operators/diff.py),
    and this operator promotes the question "is this column set actually
    a primary key?" to a standalone single-table audit.

    One groupBy shuffle; NULL keys group together per tuple (groupBy is
    null-safe by construction — the null-key discipline's preferred
    shape). Callers that derive both stats and examples should persist
    the returned frame (two consumers, and Spark never reuses an
    exchange across separate actions).
    """
    missing = [c for c in key_cols if c not in df.columns]
    if not key_cols:
        raise ValueError("at least one key column is required")
    if missing:
        raise ValueError(f"key columns not found: {missing}")
    return df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("row_count")
    )


def duplicate_key_stats(grouped: DataFrame, key_cols: list[str]) -> DataFrame:
    """One-row uniqueness summary over a ``key_duplication`` frame:
    total rows, distinct keys, duplicated keys, excess rows (rows beyond
    the first per duplicated key — exactly how many a dedup would drop),
    and rows whose key tuple contains a NULL (counted from the SAME
    aggregated frame — no second scan of the base table)."""
    cnt = F.col("row_count")
    null_pred = None
    for c in key_cols:
        clause = F.col(c).isNull()
        null_pred = clause if null_pred is None else (null_pred | clause)
    return grouped.agg(
        F.sum(cnt).alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(cnt > 1, 1).otherwise(0)).alias("duplicate_keys"),
        F.sum(F.when(cnt > 1, cnt - 1).otherwise(0)).alias("excess_rows"),
        F.sum(F.when(null_pred, cnt).otherwise(0)).alias("null_key_rows"),
    )


def duplicate_key_examples(
    grouped: DataFrame, key_cols: list[str], limit: int
) -> DataFrame:
    """Worst duplicated key tuples, deterministic order (count desc, then
    key asc — ties never reorder across runs). TakeOrderedAndProject, not
    a global sort: only ``limit`` rows ever reach the driver."""
    return (
        grouped.filter(F.col("row_count") > 1)
        .orderBy(F.desc("row_count"), *key_cols)
        .limit(limit)
    )
