"""Resume guard shared by the quality-filter runner and the dedup job.

Both jobs skip work whose output already exists on disk (bucket markers,
staged input, stage ``_SUCCESS`` files). That output is only valid for the
parameters that built it: a resume with a different bucket count or LSH
geometry would mix old and new outputs, or silently drop rows. A fresh
start records those parameters in ``output_dir/_run_params.json``; a
resume compares against them and raises on any difference.
"""

from __future__ import annotations

import json
import os


def write_json_atomic(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)  # atomic: a crash never leaves a half-written file


def pin_run_params(output_dir: str, resume: bool, **params) -> None:
    """Record ``params`` on a fresh start; on resume, raise ``ValueError``
    naming every parameter whose value differs from the recorded one.

    A resume into a directory with no record (nothing ran there yet)
    records ``params`` like a fresh start."""
    path = os.path.join(output_dir, "_run_params.json")
    # JSON round trip, so a tuple compares equal to the list it was stored as
    params = json.loads(json.dumps(params))
    if not (resume and os.path.exists(path)):
        write_json_atomic(path, params)
        return
    with open(path) as fh:
        pinned = json.load(fh)
    diff = [
        f"{k}: {pinned.get(k)!r} -> {params.get(k)!r}"
        for k in sorted(set(pinned) | set(params))
        if pinned.get(k) != params.get(k)
    ]
    if diff:
        raise ValueError(
            f"cannot resume {output_dir}: its outputs were built with other "
            f"parameters ({', '.join(diff)}); resume with the recorded values "
            "or start over in an empty output directory"
        )
