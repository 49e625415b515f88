"""check_suite: ``QualityChecker`` with a parquet results table over two
seeded 10-column frames that carry a date column and engineered missing,
extra and mismatched keys. The timed call is the suite's headline entry,
the unchunked ``check_samples``. The traced run times one ``run_suite``
with the entries ``samples`` unchunked, ``samples`` chunked by day,
``counts``, ``uniqueness`` and ``sniff`` over a temp view. Joins and
shuffles in ``operators.diff``, many small jobs, the check envelope and
the audit appends; no Python UDF.

Engineered differences, all closed-form in (n, seed):
- target lacks every id with (id + seed) % 50 == 0;
- target has n // 100 extra ids n, n+1, ...;
- target's ``v_str`` gains an "x" wherever (id + seed) % 20 == 7.
"""

from __future__ import annotations

import os
import time
from datetime import date, timedelta

import numpy as np

from harness import CORES, median

from . import Workload

START = date(2024, 3, 1)
DAYS = 2
MISS = (50, 0)
MISMATCH = (20, 7)
TOLERANCE_PCT = 10.0
CHECKS = ("samples", "samples_chunked", "counts", "uniqueness", "sniff")
# the first calls in a JVM are still compiling; the timed calls after
# these two sit at the same place on the warm-up curve in every run
WARM_CALLS = 2


def count_residue(n: int, seed: int, m: int, r: int) -> int:
    """#{id in [0, n) : (id + seed) % m == r}."""
    return (seed + n - 1 - r) // m - (seed - 1 - r) // m


def expected(n: int, seed: int) -> dict:
    """The stats each check must report, computed without Spark."""
    extra = n // 100
    miss = count_residue(n, seed, *MISS)
    mism = count_residue(n, seed, *MISMATCH)
    comparable = n - miss
    pct = 100.0 / comparable
    diff = 0.15 * miss * pct + 0.15 * extra * pct + 0.5 * mism * pct
    ids = np.arange(n + extra)
    src_days = np.bincount(ids[:n] % DAYS, minlength=DAYS)
    in_trg = (ids >= n) | ((ids + seed) % MISS[0] != MISS[1])
    trg_days = np.bincount(ids[in_trg] % DAYS, minlength=DAYS)
    d = int(np.abs(src_days - trg_days).sum())
    c = int(np.minimum(src_days, trg_days).sum())
    total_target = n - miss + extra
    return {
        "samples": {
            "total_source_rows": n, "total_target_rows": total_target,
            "only_source_rows": miss, "only_target_rows": extra,
            "comparable_rows": comparable, "passed_rows": comparable - mism,
            "final_score": 100.0 - diff,
        },
        "counts": {"final_score": 100.0 - 100.0 * d / (d + c)},
        "uniqueness": {"final_score": 100.0},
        "sniff": {
            "final_score": 100.0 - 100.0 * mism / total_target,
            "passed_rows": total_target - mism,
        },
    }


def _matches(row: dict, stats: dict) -> bool:
    return row.get("status") == "success" and all(
        row.get(f"stats_{k}") is not None and abs(row[f"stats_{k}"] - v) < 1e-3
        for k, v in stats.items()
    )


class CheckSuite(Workload):
    name = "check_suite"
    ROWS = 20_000
    min_calls = 6
    layers = {
        "operators.diff.compare_frames_s": "s",
        "checker.envelope_s": "s",
        **{f"checker.{c}_s": "s" for c in CHECKS},
        "persistence.append_s": "s",
        "persistence.audit_rows": "count",
    }
    # uniqueness and sniff legs are left out to stay within the metric cap
    legs = {f"check.{c}": f"leg.check.{c}" for c in ("samples", "samples_chunked", "counts")}

    def __init__(self, bench):
        super().__init__(bench)
        self.n = max(1000, int(self.ROWS * bench.scale) // 100 * 100)
        # source rows plus target rows
        self.rows = self.n + expected(self.n, bench.seed)["samples"]["total_target_rows"]
        self.paths = {s: bench.new_dir(s) for s in ("source", "target")}
        self.walls: dict[str, float] = {}
        self.grouped = False
        self.results = None  # audit table of the last suite
        self.samples_results = None  # audit table of the primary() calls
        self.calls = 0

    def generate(self) -> None:
        """Both frames as parquet, written with pyarrow (no Spark job), one
        file per Spark core."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        n, seed = self.n, self.b.seed
        ids = np.arange(n + n // 100)
        rng = np.random.default_rng(seed)
        h = rng.integers(0, 2**62, len(ids))
        v_str = np.char.add("s", (h % 100_000).astype(str))
        cols = {
            "id": pa.array(ids),
            "dt": pa.array(((START - date(1970, 1, 1)).days + ids % DAYS).astype(np.int32),
                           pa.date32()),
            "v_int": pa.array((h % 1000).astype(np.int32)),
            "v_long": pa.array(h),
            "v_dbl": pa.array((h % 100_000) / 100.0),
            "v_cat": pa.array(np.char.add("c", (ids % 17).astype(str))),
            "v_ts": pa.array((1_700_000_000 + h % 2_592_000) * 1_000_000, pa.timestamp("us", "UTC")),
            "v_flag": pa.array(np.where(h % 2 == 0, "y", "n")),
            "v_amt": pa.array(rng.integers(0, 1_000_000, len(ids)) / 7.0),
        }
        key = ids + seed
        mism = (ids < n) & (key % MISMATCH[0] == MISMATCH[1])
        frames = {
            "source": (ids < n, v_str),
            "target": ((ids >= n) | (key % MISS[0] != MISS[1]), np.where(mism, np.char.add(v_str, "x"), v_str)),
        }
        for side, (keep, strs) in frames.items():
            table = pa.table({**cols, "v_str": pa.array(strs)}).filter(pa.array(keep))
            os.makedirs(self.paths[side], exist_ok=True)
            step = -(-table.num_rows // CORES)
            for i in range(CORES):
                pq.write_table(table.slice(i * step, step),
                               os.path.join(self.paths[side], f"part-{i}.parquet"))

    def load(self) -> None:
        self.src = self.spark.read.parquet(self.paths["source"])
        self.trg = self.spark.read.parquet(self.paths["target"])
        self.trg.createOrReplaceTempView("perfbench_target")

    def inputs(self) -> list:
        return [self.src, self.trg]

    def suite(self) -> list[dict]:
        end = (START + timedelta(days=DAYS - 1)).isoformat()
        both = {"source_table": self.src, "target_table": self.trg}
        return [
            {"type": "samples", "check_name": "samples", **both,
             "custom_primary_key": ["id"], "tolerance_pct": TOLERANCE_PCT},
            {"type": "samples", "check_name": "samples_chunked", **both,
             "custom_primary_key": ["id"], "tolerance_pct": TOLERANCE_PCT,
             "date_column": "dt", "date_range": (START.isoformat(), end),
             "chunk_size_days": 1},
            {"type": "counts", "check_name": "counts", **both, "date_column": "dt",
             "date_range": (START.isoformat(), end), "tolerance_pct": TOLERANCE_PCT},
            {"type": "uniqueness", "check_name": "uniqueness",
             "source_table": self.src, "key_columns": ["id"]},
            {"type": "sniff", "check_name": "sniff", "tolerance_pct": TOLERANCE_PCT,
             "source_query": "SELECT id, CASE WHEN v_str LIKE '%x' THEN 'n' ELSE 'y' END"
                             " AS xsniff_passed FROM perfbench_target"},
        ]

    def checker(self):
        """A QualityChecker with its check methods wrapped (on the
        instance) to time each suite entry and, when tracing, to run it
        under its own job group."""
        from xoverrr_spark.checker import QualityChecker

        self.results = self.b.new_dir("results")
        qc = QualityChecker(self.spark, results_table=self.results)
        for method in {QualityChecker.SUITE_TYPES[s["type"]] for s in self.suite()}:
            inner = getattr(qc, method)

            def wrapped(*args, _inner=inner, **kwargs):
                name = kwargs["check_name"]
                t0 = time.perf_counter()
                try:
                    if not self.grouped:
                        return _inner(*args, **kwargs)
                    with self.b.job_group(f"check.{name}"):
                        return _inner(*args, **kwargs)
                finally:
                    self.walls[name] = time.perf_counter() - t0

            setattr(qc, method, wrapped)
        return qc

    def run_suite(self):
        out = self.checker().run_suite(self.suite())
        bad = [c for c in out["checks"] if c["status"] != "success"]
        if bad:
            raise RuntimeError(f"checks not called for by the data: {bad}")
        return out

    def warm(self) -> None:
        for _ in range(WARM_CALLS):
            self.primary()

    def primary(self) -> None:
        from xoverrr_spark.checker import QualityChecker

        if self.samples_results is None:
            self.samples_results = self.b.new_dir("samples-results")
        spec = dict(self.suite()[0])
        del spec["type"]
        qc = QualityChecker(self.spark, results_table=self.samples_results)
        self.calls += 1
        status = qc.check_samples(**spec)[0]
        if status != "success":
            raise RuntimeError(f"check_samples not called for by the data: {status}")

    def core(self) -> None:
        from xoverrr_spark.operators.diff import compare_frames

        compare_frames(self.src, self.trg, ["id"])

    def warm_core(self) -> None:
        self.core()

    def check(self) -> None:
        """One audit row per ``primary()`` call, each with the stats
        computed in closed form."""
        rows = [r.asDict() for r in self.spark.read.parquet(self.samples_results).collect()]
        self.b.gate("check.timed_audit_rows", len(rows) == self.calls)
        want = expected(self.n, self.b.seed)["samples"]
        self.b.gate("check.timed_samples_stats", bool(rows) and all(_matches(r, want) for r in rows))

    def gate_suite(self) -> None:
        """Audit rows of the last suite: one per check, stats as computed
        in closed form."""
        rows = {r["check_name"]: r.asDict() for r in self.spark.read.parquet(self.results).collect()}
        self.b.gate("check.audit_rows", len(rows) == len(CHECKS) and set(rows) == set(CHECKS))
        want = expected(self.n, self.b.seed)
        for name, stats in (("samples", want["samples"]), ("samples_chunked", want["samples"]),
                            ("counts", want["counts"]), ("uniqueness", want["uniqueness"]),
                            ("sniff", want["sniff"])):
            self.b.gate(f"check.{name}_stats", _matches(rows.get(name, {}), stats))

    def trace(self) -> tuple[dict, list[float]]:
        from xoverrr_spark.persistence import build_audit_record, persist_audit_record

        b = self.b
        self.warm_core()
        walls = [w for w in (b.timed(self.core)[0] for _ in range(self.trace_reps)) if w is not None]
        out = {"operators.diff.compare_frames_s": median(walls)}
        audit = b.new_dir("audit")
        rec = build_audit_record(run_id="perfbench", check_type="samples", status="success")
        appends = [b.timed(persist_audit_record, self.spark, rec, audit)[0] for _ in range(2)]
        out["persistence.append_s"] = median([w for w in appends if w is not None])
        self.grouped = True
        b.timed(self.run_suite)
        self.grouped = False
        self.gate_suite()
        out.update({f"checker.{c}_s": self.walls.get(c, 0.0) for c in CHECKS})
        out["persistence.audit_rows"] = self.spark.read.parquet(self.results).count()
        out["checker.envelope_s"] = out["checker.samples_s"] - out["operators.diff.compare_frames_s"]
        return out, walls
