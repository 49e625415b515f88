"""The benchmark's workloads. Each one generates its input from the run's
seed, stages it, and times calls into the package's public entry points.

Interface (driven by ``run.py``):

- ``generate()``   build the seeded input and stage it on disk;
- ``load()``       read the staged input into the current session;
- ``primary()``    one call of the operation the workload is about; the
                   end-to-end metrics time it, ``rows`` is the input rows
                   one call reads;
- ``check()``      the correctness gates on the ``primary()`` calls
                   (run outside every timed region);
- ``core()``       the call ``trace.overhead_frac`` compares traced and
                   untraced, after ``warm_core()``;
- ``trace()``      the traced calls into the workload's layers, in a
                   session with the event log on; ``core()`` calls come
                   first after ``warm_core()``. Returns (direct per-layer
                   metrics, walls of the traced ``core()`` calls);
- ``from_legs()``  adds the per-leg Spark metrics read from the event log.

A traced run traces the layers of every workload, so every workload
reports every per-layer metric.
"""

from __future__ import annotations

import time

from eventlog import LEG_FIELDS


class Workload:
    name = ""
    #: calls of ``primary()`` an untraced run makes at least
    min_calls = 3
    #: per-layer metrics besides the Spark legs: name -> unit
    layers: dict[str, str] = {}
    #: job group -> metric prefix of the Spark legs this workload reports
    legs: dict[str, str] = {}
    #: ``core()`` calls per side, untraced and traced
    trace_reps = 2

    def __init__(self, bench):
        self.b = bench
        self.rows = 0

    @property
    def spark(self):
        return self.b.spark

    def warm(self) -> None:
        self.primary()

    def core(self) -> None:
        self.primary()

    def warm_core(self) -> None:
        self.warm()

    def loop(self, seconds: float, min_iter: int, fn) -> tuple[list[float], list[float], list[float]]:
        """Call ``fn`` until ``seconds`` have passed and at least
        ``min_iter`` calls were made; returns the walls, CPU seconds and
        stolen shares of the calls that succeeded."""
        walls, cpus, steals, t_end, i = [], [], [], time.perf_counter() + seconds, 0
        while i < min_iter or time.perf_counter() < t_end:
            dt, cpu, steal = self.b.timed_cpu(fn)
            if dt is not None:
                walls.append(dt)
                cpus.append(cpu)
                steals.append(steal)
            i += 1
        return walls, cpus, steals

    def inputs(self) -> list:
        """The loaded input DataFrames (for the input fingerprint)."""
        raise NotImplementedError

    def fingerprint(self) -> int:
        """Order-free content hash of the generated inputs: the smoke test
        checks that another seed changes it."""
        from pyspark.sql import functions as F

        total = 0
        for df in self.inputs():
            total += df.select(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()[0]
        return int(total)

    def from_legs(self, legs: dict, metrics: dict) -> None:
        for group, prefix in self.legs.items():
            leg = legs.get(group, {})
            for f in LEG_FIELDS:
                metrics[f"{prefix}.{f}"] = leg.get(f, 0)

    @classmethod
    def layer_units(cls) -> dict[str, str]:
        units = dict(cls.layers)
        for prefix in cls.legs.values():
            for f in LEG_FIELDS:
                units[f"{prefix}.{f}"] = LEG_UNITS[f]
        return units


LEG_UNITS = {
    "jobs": "count", "tasks": "count", "task_p50_s": "s", "task_max_s": "s",
    "cpu_s": "s", "gc_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
}


def registry() -> dict[str, type]:
    from .check_suite import CheckSuite
    from .filter_batch import FilterBatch

    return {w.name: w for w in (FilterBatch, CheckSuite)}


def layer_units() -> dict[str, str]:
    """Every workload's per-layer metrics: what a traced run reports."""
    units: dict[str, str] = {}
    for cls in registry().values():
        units.update(cls.layer_units())
    return units
