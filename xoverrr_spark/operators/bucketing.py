"""Hash-bucketed tables: co-located joins and aggregations with ZERO shuffle.

The staged runner already uses *directory* partitioning (one dir per
phash-bucket — partition PRUNING). This module adds Spark's other
physical-layout lever: ``bucketBy`` hash bucketing, which pre-shuffles a
table ONCE at write time so that every later equi-join or groupBy on the
bucket keys reads both sides already co-located — Catalyst plans a
SortMergeJoin with no Exchange on either side.

At 100 TB this is the difference between re-shuffling 100 TB on every
run of a recurring join (fact-to-fact joins are not broadcastable) and
shuffling once at ingest: a lineitem ⋈ orders style join over two tables
bucketed by the join key moves zero bytes between executors at query
time. The reference engine has no equivalent (single-process pandas
joins, ``core.py:1245-1320`` merge flow); this is Spark-first physical
design, per SURVEY §6's shuffle-minimization plan.

Operational notes (encoded in ``write_bucketed``):
- Both join sides must use the SAME bucket count (or enable
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled`` when one count
  divides the other).
- ``sortBy`` the bucket keys so single-file buckets also skip the
  per-task sort of the SortMergeJoin.
- One output file per bucket (the writer task count does not matter;
  each task writes its rows into per-bucket files — repartition by the
  bucket keys first so each bucket's rows land in ONE file, keeping
  small-file count = n_buckets and preserving the sorted-bucket
  guarantee).
- Bucketed tables need a catalog entry (``saveAsTable``); data lives at
  an explicit external ``path`` so nothing lands in a default warehouse.
  On a real cluster the catalog is HMS/Unity/Iceberg; in-session the
  default catalog works identically.
- NULL-KEY TRAP (measured, pinned by tests/test_bucketing.py): an
  ``eqNullSafe`` join does NOT satisfy the bucketed distribution — the
  planner re-shuffles BOTH sides, silently discarding the co-location
  you bucketed for. This collides with this repo's null-key discipline
  (null-safe joins preferred on nullable keys). Resolution for bucketed
  layouts: coalesce null keys to a reserved sentinel BEFORE
  ``write_bucketed`` (the exact_dedup sentinel pattern), then a plain
  equi-join both matches the null rows and keeps the zero-shuffle plan.
  A plain equi-join on nullable keys stays co-located but drops
  null-key rows on both paths identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str] | tuple[str, ...],
    n_buckets: int,
    path: str,
    sort: bool = True,
    mode: str = "overwrite",
) -> DataFrame:
    """Write ``df`` as an external parquet table hash-bucketed by ``keys``.

    Returns the catalog-backed DataFrame (``spark.table``) whose scans
    carry the bucket spec — joins/groupBys on ``keys`` against another
    table bucketed the same way plan with no Exchange.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    keys = list(keys)
    if not keys:
        raise ValueError("at least one bucket key is required")
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"bucket keys not in DataFrame: {missing}")
    spark = df.sparkSession
    # one file per bucket: co-partition the writer by the bucket keys so
    # each bucket's rows arrive at a single task (otherwise every writer
    # task emits one file per bucket it sees -> n_tasks * n_buckets files)
    writer = (
        df.repartition(n_buckets, *keys)
        .write.format("parquet")
        .mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *keys)
    )
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)
    return spark.table(table)
