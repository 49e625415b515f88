"""Full audit-row persistence — the reference's ~45-column check record.

Record shape matched from ``/root/reference/src/xoverrr/persistence.py``
(record builder ``:290-317``), re-expressed for Spark sinks:

- base fields (``BASE_PERSIST_COLUMN_TYPES``, persistence.py:106-120):
  run_id, the 8 ``CheckRunTimings`` timestamps (persistence.py:23-32,
  56-89), check_type, status, check_name, check_tags_json, source_table,
  target_table, check_timezone (renamed from ``timezone``,
  persistence.py:104), source_query / target_query with bind params
  rendered to literals (persistence.py:153-174), report;
- ``stats_<field>`` for every CheckStats int and float field, floats
  rounded to 5 decimals (persistence.py:35-38, constants.py:48);
- ``details_<field>_json`` for every CheckDetails field, ``None``
  normalized to ``[]`` before serialization (persistence.py:145-151).

The column list is derived from the dataclasses with ``dataclasses.fields``
— exactly the reference's mechanism — so the persisted schema cannot drift
from the in-memory shapes. Sink is an append-only parquet directory (an
Iceberg table ref works identically at deploy time); appends are tiny
single-row writes, so no shuffle considerations apply.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields
from datetime import datetime

from .operators.diff import CheckDetails, CheckStats
from .session import local_rows

STATS_FLOAT_DECIMALS = 5          # reference constants.py:48
DATETIME_FORMAT = "%Y-%m-%d %H:%M:%S"  # reference constants.py:3

TIMING_FIELDS = (
    "run_started_at",
    "run_finished_at",
    "source_query_started_at",
    "source_query_finished_at",
    "target_query_started_at",
    "target_query_finished_at",
    "dataset_check_started_at",
    "dataset_check_finished_at",
)


@dataclass
class CheckRunTimings:
    """Wall-clock marks for one check run (reference persistence.py:56-89).

    What the persisted per-side query spans MEAN on Spark (truth-in-
    labeling, VERDICT r02 — the reference's spans wrap per-side DB
    execution, which Spark fuses into one distributed plan):

    - ``check_counts``: REAL execution — each side's daily-count
      aggregation is persisted and counted inside its marks, then reused,
      so the span is that side's scan+aggregate wall time.
    - ``check_samples`` / ``check_custom_queries`` / ``check_sniff_query``:
      plan RESOLUTION+BUILD only (microseconds) — both sides execute
      fused inside one tagged-union/sniff plan whose wall time is the
      ``dataset_check_*`` span. Splitting per-side scan time out of a
      fused plan would require running each side twice, which would be a
      lie of a different kind.
    """

    run_started_at: str | None = None
    run_finished_at: str | None = None
    source_query_started_at: str | None = None
    source_query_finished_at: str | None = None
    target_query_started_at: str | None = None
    target_query_finished_at: str | None = None
    dataset_check_started_at: str | None = None
    dataset_check_finished_at: str | None = None

    @staticmethod
    def now() -> str:
        return datetime.now().strftime(DATETIME_FORMAT)

    def mark_query_start(self, side: str) -> None:
        attr = f"{side}_query_started_at"
        if getattr(self, attr) is None:
            setattr(self, attr, self.now())

    def mark_query_end(self, side: str) -> None:
        setattr(self, f"{side}_query_finished_at", self.now())

    def mark_dataset_check_start(self) -> None:
        if self.dataset_check_started_at is None:
            self.dataset_check_started_at = self.now()

    def mark_dataset_check_end(self) -> None:
        self.dataset_check_finished_at = self.now()

    def finish_run(self) -> None:
        self.run_finished_at = self.now()


def _field_names_of_type(cls, type_name: str) -> list[str]:
    # `from __future__ import annotations` makes f.type a string
    return [f.name for f in fields(cls) if str(f.type) in (type_name, f"<class '{type_name}'>")]


STATS_INT_FIELDS = _field_names_of_type(CheckStats, "int")
STATS_FLOAT_FIELDS = _field_names_of_type(CheckStats, "float")
DETAILS_JSON_FIELDS = [f.name for f in fields(CheckDetails)]

BASE_FIELDS = [
    "run_id",
    *TIMING_FIELDS,
    "check_type",
    "status",
    "check_name",
    "check_tags_json",
    "source_table",
    "target_table",
    "check_timezone",
    "source_query",
    "target_query",
    "report",
]

AUDIT_COLUMNS = (
    BASE_FIELDS
    + [f"stats_{f}" for f in STATS_INT_FIELDS]
    + [f"stats_{f}" for f in STATS_FLOAT_FIELDS]
    + [f"details_{f}_json" for f in DETAILS_JSON_FIELDS]
)


def audit_schema() -> str:
    parts = [f"{c} string" for c in BASE_FIELDS]
    parts += [f"stats_{f} long" for f in STATS_INT_FIELDS]
    parts += [f"stats_{f} double" for f in STATS_FLOAT_FIELDS]
    parts += [f"details_{f}_json string" for f in DETAILS_JSON_FIELDS]
    return ", ".join(parts)


def _to_json(value) -> str | None:
    if value is None:
        return None
    return json.dumps(value, ensure_ascii=False, default=str)


def _round5(value) -> float | None:
    if value is None:
        return None
    return round(float(value), STATS_FLOAT_DECIMALS)


def format_sql_literal(value) -> str:
    """SQL-literal rendering for persisted queries (persistence.py:153-160)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return str(value)
    return "'" + str(value).replace("'", "''") + "'"


def render_query_with_params(query: str | None, params: dict | None) -> str | None:
    """Splice ``:name`` binds into the persisted query text, longest names
    first (persistence.py:162-174) so ``:ab`` never corrupts ``:abc``."""
    if not query:
        return None
    if not params:
        return query
    rendered = query
    for key in sorted(params, key=len, reverse=True):
        rendered = rendered.replace(f":{key}", format_sql_literal(params[key]))
    return rendered


def build_audit_record(
    run_id: str,
    check_type: str,
    status: str,
    check_name: str | None = None,
    check_tags: dict | None = None,
    source_table: str | None = None,
    target_table: str | None = None,
    timezone: str | None = None,
    source_query: str | None = None,
    source_params: dict | None = None,
    target_query: str | None = None,
    target_params: dict | None = None,
    report: str | None = None,
    stats: CheckStats | None = None,
    details: CheckDetails | None = None,
    timings: CheckRunTimings | None = None,
) -> dict:
    """One flat audit record (reference ``_build_db_record``,
    persistence.py:290-317)."""
    rec: dict = {
        "run_id": run_id,
        "check_type": check_type,
        "status": status,
        "check_name": check_name,
        "check_tags_json": _to_json(check_tags),
        "source_table": source_table if isinstance(source_table, str) else None,
        "target_table": target_table if isinstance(target_table, str) else None,
        "check_timezone": timezone,
        "source_query": render_query_with_params(source_query, source_params),
        "target_query": render_query_with_params(target_query, target_params),
        "report": report,
    }
    for f in TIMING_FIELDS:
        rec[f] = getattr(timings, f) if timings else None
    for f in STATS_INT_FIELDS:
        rec[f"stats_{f}"] = int(getattr(stats, f)) if stats is not None else None
    for f in STATS_FLOAT_FIELDS:
        rec[f"stats_{f}"] = _round5(getattr(stats, f)) if stats is not None else None
    for f in DETAILS_JSON_FIELDS:
        v = getattr(details, f) if details is not None else None
        rec[f"details_{f}_json"] = _to_json(list(v) if v is not None else [])
    return rec


def audit_frame(spark, record: dict):
    """The one-row audit DataFrame, typed by ``audit_schema()``. It plans
    as a ``LocalTableScan`` (``session.local_rows``), so writing it runs
    no Python worker."""
    row = tuple(record.get(c) for c in AUDIT_COLUMNS)
    return local_rows(spark, [row], audit_schema())


def persist_audit_record(spark, record: dict, path: str) -> None:
    """Append one audit row to the results sink (parquet dir / table path)."""
    audit_frame(spark, record).write.mode("append").parquet(path)
