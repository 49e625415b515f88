"""One lifetime for every persisted intermediate frame.

A persisted DataFrame stays in executor storage until someone unpersists
it. Every library ``persist`` goes through ``persist(df)``, which registers
the frame in the innermost open ``scope()``; leaving the scope, normally
or by an exception, unpersists everything registered in it. ``persist``
with no scope open raises, so a forgotten release is an error, not a
silent leak.

The rule: build a frame and materialize it (write, collect, count) inside
ONE scope. Operators return lazy frames whose caches belong to the
caller's scope; a lazy frame used after its scope closes recomputes its
inputs, because the caches it was planned against are gone. A function
that materializes its result before returning (``cluster_near_dups``,
the runners) opens its own scope; ``compare_frames`` persists nothing.

The open scopes live in a ``contextvars.ContextVar``: a thread started by
``ThreadPoolExecutor`` begins with an empty context, so work submitted to
a pool opens its own scope.
"""

from __future__ import annotations

import contextvars
from contextlib import contextmanager

from pyspark.sql import DataFrame

_OPEN: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "xoverrr_intermediates", default=None
)


@contextmanager
def scope():
    """Open a scope; on exit unpersist every frame ``persist`` registered in
    it, then restore the enclosing scope. Yields the list of registered
    frames."""
    frames: list[DataFrame] = []
    token = _OPEN.set(frames)
    try:
        yield frames
    finally:
        try:
            for df in frames:
                df.unpersist()
        finally:
            _OPEN.reset(token)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (lazy: no job runs here), registered in the innermost
    open scope, which unpersists it on exit."""
    frames = _OPEN.get()
    if frames is None:
        raise RuntimeError(
            "intermediates.persist() needs an open scope: wrap building the "
            "frame and the action that materializes it in "
            "`with xoverrr_spark.intermediates.scope():`"
        )
    df = df.persist()
    frames.append(df)
    return df
