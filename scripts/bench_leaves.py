"""Leaf timing for ``bench.py`` and ``scripts/executor_scaling.py``, built on
perfbench's harness.

A leaf is one timed operation. ``leaf`` makes one untimed warm-up call
(JIT, Python workers, page cache), then ``CALLS`` timed calls; for each it
records the wall time and the share of the host's CPU time that other
tenants stole meanwhile. The leaf's number is the median over the quiet
calls (``perfbench.harness.quiet_calls``: selected by steal, never by the
call's own time), reported with the interquartile range of those calls.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

from perfbench.harness import _steal_ticks, median, quiet_calls

CALLS = 3
# whoever runs the bench may keep only a ~2000-char stdout tail; the JSON
# line must fit in it
LINE_LIMIT = 1900
# optional blocks of the JSON line, least load-bearing first
DROP_ORDER = ("executors_1to4", "scale_up_4x", "dedup_job_scale", "scaling", "leaves")


def leaf(fn, ticks=_steal_ticks, clock=time.perf_counter) -> dict:
    """Time ``fn()``: one warm-up call, then ``CALLS`` timed calls."""
    fn()
    samples, steal = [], []
    for _ in range(CALLS):
        t0, (all0, stolen0) = clock(), ticks()
        fn()
        t1, (all1, stolen1) = clock(), ticks()
        samples.append(t1 - t0)
        steal.append((stolen1 - stolen0) / max(all1 - all0, 1))
    quiet = quiet_calls(steal)
    kept = [samples[i] for i in quiet]
    q1, _, q3 = statistics.quantiles(kept, n=4, method="inclusive")
    return {
        "samples_s": [round(x, 4) for x in samples],
        "steal": [round(x, 4) for x in steal],
        "quiet": quiet,
        "median_s": round(median(kept), 4),
        "iqr_s": round(q3 - q1, 4),
    }


def write_leaves(path: str, leaves: dict, host: dict) -> str:
    """Write every leaf under one host stamp to ``path``; returns the
    first 12 hex digits of the file's sha256."""
    raw = json.dumps({"host": host, "leaves": leaves}, indent=1, sort_keys=True).encode()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(raw)
    return hashlib.sha256(raw).hexdigest()[:12]


def headline_line(result: dict) -> str:
    """``result`` as one JSON line, dropping optional blocks in
    ``DROP_ORDER`` until it fits ``LINE_LIMIT``."""
    result = dict(result)
    line = json.dumps(result)
    for drop in DROP_ORDER:
        if len(line) <= LINE_LIMIT:
            break
        result.pop(drop, None)
        line = json.dumps(result)
    return line
