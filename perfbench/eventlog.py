"""Spark event-log reader: per-job-group ("leg") task and SQL metrics.

The traced run starts its session with ``spark.eventLog.enabled`` (plain
JSON, no compression, no rolling) and sets a job group around each timed
call. After the session stops, every job is mapped to its group through
``SparkListenerJobStart`` properties, every stage to its first job, and
every ``SparkListenerTaskEnd`` to its stage's group.
"""

from __future__ import annotations

import json
import os
import statistics

# Spark's Python SQL metrics (PythonSQLMetrics): name in the event log ->
# (metric suffix, scale to the reported unit); timings are logged in ms
PYTHON_METRICS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1.0),
    "data returned from Python workers": ("bytes_from_python", 1.0),
}

LEG_FIELDS = (
    "jobs", "tasks", "task_p50_s", "task_max_s", "cpu_s", "gc_s",
    "shuffle_bytes", "spill_bytes",
)


def _events(event_dir: str):
    for name in sorted(os.listdir(event_dir)):
        path = os.path.join(event_dir, name)
        if not os.path.isfile(path) or name.startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_legs(event_dir: str) -> dict[str, dict]:
    """{job group: {jobs, tasks, task_p50_s, ..., python metrics}}."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list] = {}
    sql: dict[str, dict] = {}
    for ev in _events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not group:
                continue
            jobs[group] = jobs.get(group, 0) + 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.setdefault(group, []).append((
                (_num(info.get("Finish Time")) - _num(info.get("Launch Time"))) / 1e3,
                _num(m.get("Executor CPU Time")) / 1e9,
                _num(m.get("JVM GC Time")) / 1e3,
                _num(sw.get("Shuffle Bytes Written")),
                _num(m.get("Disk Bytes Spilled")),
            ))
            acc = sql.setdefault(group, {})
            for a in info.get("Accumulables", ()):
                spec = PYTHON_METRICS.get(a.get("Name"))
                if spec is not None:
                    key, scale = spec
                    acc[key] = acc.get(key, 0.0) + _num(a.get("Update")) * scale
    out = {}
    for group, n_jobs in jobs.items():
        ts = tasks.get(group, [])
        durs = [t[0] for t in ts]
        out[group] = {
            "jobs": n_jobs,
            "tasks": len(ts),
            "task_p50_s": statistics.median(durs) if durs else 0.0,
            "task_max_s": max(durs) if durs else 0.0,
            "cpu_s": sum(t[1] for t in ts),
            "gc_s": sum(t[2] for t in ts),
            "shuffle_bytes": sum(t[3] for t in ts),
            "spill_bytes": sum(t[4] for t in ts),
            **sql.get(group, {}),
        }
    return out
