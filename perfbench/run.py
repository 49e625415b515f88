"""The repository's benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: filter_batch and check_suite
(see perfbench/README.md). One driver process, one client,
``local[nproc - 1]``. With ``--trace 0`` it prints the end-to-end metrics of
the workload's call; with ``--trace 1`` the per-layer metrics of every
workload's layers, read from timed calls, the program's own run records
and Spark's event log. The last line of standard output is the JSON
result.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per untraced run


def _untraced(b, wl, seconds: float) -> dict:
    """setup_s = median over SETUPS of (session start + input generation
    and staging) + the warm-up that follows them; rows_per_s from the
    median over the quiet measured calls: on a shared host, other
    tenants' bursts (seen as CPU steal) slow every thread of a call."""
    from harness import median, quiet_calls

    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        b.start_session()
        wl.generate()
        wl.load()
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    b.op(wl.warm)
    warm = time.perf_counter() - t0
    t1 = time.perf_counter()
    walls, cpus, steals = wl.loop(seconds, wl.min_calls, wl.primary)
    b.notes["phases_s"] = {"setups": setups, "warm": warm, "measure": time.perf_counter() - t1}
    quiet = quiet_calls(steals)
    b.notes["calls"] = {"wall_s": walls, "cpu_s": cpus, "steal": steals, "quiet": quiet}
    wl.check()
    b.notes["input_fingerprint"] = wl.fingerprint()
    b.sample_rss()
    wall = median([walls[i] for i in quiet])
    return {
        "setup_s": median(setups) + warm,
        "peak_rss_mb": b.peak_rss,
        "rows_per_s": wl.rows / wall if wall else 0.0,
    }


def _traced(b, wl, others) -> dict:
    """Every workload's layers in one session with the event log on, the
    run's own workload first; trace.overhead_frac compares its core()
    calls there with untraced ones in sessions before and after."""
    from eventlog import read_legs
    from harness import median

    t0 = time.perf_counter()
    b.start_session()
    t1 = time.perf_counter()
    for w in (wl, *others):
        w.generate()
    t2 = time.perf_counter()
    plain = []

    def untraced_side():
        b.start_session()
        wl.load()
        wl.warm_core()
        plain.extend(wl.loop(0, wl.trace_reps, wl.core)[0])

    # A-B-A: untraced sides before and after the traced one cancel the
    # JIT warm-up drift; each side runs in a restarted context of one JVM
    untraced_side()
    phases = {"start": t1 - t0, "generate": t2 - t1, "side_a": time.perf_counter() - t2}
    b.start_session(traced=True)
    metrics, traced = {}, []
    for w in (wl, *others):
        t3 = time.perf_counter()
        w.load()
        out, walls = w.trace()
        phases[w.name] = time.perf_counter() - t3
        metrics.update(out)
        if w is wl:
            traced = walls
    b.notes["input_fingerprint"] = wl.fingerprint()
    event_dir = b.event_dir
    t3 = time.perf_counter()
    untraced_side()
    phases["side_a2"] = time.perf_counter() - t3
    b.stop_session()
    b.notes["phases_s"] = phases
    legs = read_legs(event_dir)
    for w in (wl, *others):
        w.from_legs(legs, metrics)
    metrics["session.start_s"] = t1 - t0
    metrics["fixtures.generate_s"] = t2 - t1
    metrics["trace.overhead_frac"] = median(traced) / median(plain) - 1.0
    return metrics


COMMON_LAYERS = {"session.start_s": "s", "fixtures.generate_s": "s", "trace.overhead_frac": "ratio"}
E2E = {"setup_s": "s", "peak_rss_mb": "MB", "rows_per_s": "rows/s"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test runs tiny inputs)")
    args = ap.parse_args(argv)

    # the program under test is the checkout this file sits in
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import xoverrr_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from harness import Bench, emit, host_stamp, loadavg, wait_for_quiet
    from workloads import layer_units, registry

    workloads = registry()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2
    quiet = wait_for_quiet()
    load_start = loadavg()
    b = Bench(ROOT, args.workload, args.seed, args.scale)
    wl = workloads[args.workload](b)
    try:
        if args.trace:
            others = [cls(b) for name, cls in workloads.items() if name != args.workload]
            metrics = _traced(b, wl, others)
        else:
            metrics = _untraced(b, wl, args.seconds)
        host = host_stamp(b.java, quiet, load_start)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        b.shutdown()

    units = {**COMMON_LAYERS, **layer_units()} if args.trace else E2E
    result = {
        "correct": b.failed == 0 and b.attempted > 0 and all(b.gates.values()),
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "host": host, "gates": b.gates,
        "errors": b.errors, "notes": b.notes, "result": result,
    }
    emit(result, [(k, metrics[k], u) for k, u in units.items()], record,
         os.path.join(ROOT, ".perfbench_out"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
