"""Perplexity from a model artifact shipped to the executors.

The pipeline's built-in scorer embeds its char-bigram tables
(functions/perplexity.py). Here the same tables are trained into an
``.npz`` file and distributed via ``SparkContext.addFile``, so every
executor loads them from local disk — the broadcast-artifact pattern a
binary model too big for a closure uses. The column contract is the
built-in one: ``ppl double``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def train_char_bigram_artifact(corpus_text: str, path: str) -> str:
    """Train a Laplace-smoothed char-bigram LM and save it as an ``.npz``
    artifact (lut + logp tables) — the tiny, dependency-free stand-in for a
    real KenLM binary that exercises the full artifact-distribution path
    (train -> save -> ``sc.addFile`` -> executor ``SparkFiles.get`` ->
    score). Same math as the built-in scorer (functions/perplexity.py), so
    training on the same corpus yields bit-identical scores."""
    import numpy as np

    from .perplexity import char_bigram_tables

    lut, logp = char_bigram_tables(corpus_text)
    np.savez(path, lut=lut, logp=logp)
    return path


def artifact_ppl_udf(artifact_name: str):
    """Series->Series pandas UDF scoring with a char-LM artifact shipped via
    ``SparkContext.addFile`` — executors resolve it with
    ``SparkFiles.get(name)`` from local disk (the broadcast-artifact pattern
    a real fastText/KenLM model would use; the tables here are tiny, so the
    per-task reload is negligible)."""
    from pyspark import SparkFiles

    from .perplexity import batch_perplexity_with_tables

    cache: dict = {}

    @F.pandas_udf(T.DoubleType())
    def score(batch: pd.Series) -> pd.Series:
        if "tables" not in cache:
            import numpy as np

            with np.load(SparkFiles.get(artifact_name)) as z:
                cache["tables"] = (z["lut"].astype("int32"), z["logp"])
        lut, logp = cache["tables"]
        return batch_perplexity_with_tables(batch, lut, logp)

    return score

