"""Date chunks as a column.

The reference splits a date range into chunks of ``chunk_size_days`` days
(``src/xoverrr/core.py:1447-1483`` ``_iter_date_chunks``;
goldens ``tests/unit/test_core_chunking.py:23-38``): inclusive chunk ends, a
remainder chunk, ValueError on non-positive sizes and inverted ranges. It
diffs each chunk in its own query and merges the counters on the driver
(A10, ``core.py:1508-1640``), to bound single-process memory.

On Spark one query covers the range. ``chunk_start`` tags each row with the
first day of its chunk, and the diff groups by that tag next to the key, so
a key matches only within its chunk, as in the reference's per-chunk diff.
The chunks tile the range, so every counter is the sum the reference's
accumulator merge computes (reference invariant
``tests/integration/self_db/postgres/test_postgres_chunking_yearly.py:64``,
mirrored in ``tests/test_chunking.py``).
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import Column
from pyspark.sql import functions as F


def chunk_start(
    date_column: str | None,
    date_range: tuple[str, str] | None,
    chunk_size_days: int | None,
) -> Column | None:
    """The first day of each row's ``chunk_size_days``-day chunk of
    ``date_range``, as a DATE; None when the check is not chunked. Without
    a date column and range there is nothing to chunk, and the size is not
    validated."""
    if not (date_column and date_range) or chunk_size_days is None:
        return None
    if chunk_size_days <= 0:
        raise ValueError("chunk_size_days must be greater than 0")
    start, end = date_range
    if date.fromisoformat(start) > date.fromisoformat(end):
        raise ValueError(f"date_range start {start} is greater than end {end}")
    first = F.lit(start).cast("date")
    days = F.datediff(F.to_date(F.col(date_column)), first)
    return F.date_add(
        first, (F.floor(days / chunk_size_days) * chunk_size_days).cast("int")
    )
