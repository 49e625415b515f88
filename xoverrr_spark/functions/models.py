"""Optional real-model hooks for language-ID and perplexity.

The pipeline ships with self-contained stand-ins (stopword-membership
langid, embedded char-bigram LM) so it runs hermetically. In production the
north-star models slot in here behind the SAME column contracts:

- fastText  -> (lang: string, lang_conf: double)
- KenLM     -> (ppl: double)

Neither library is installed in this sandbox; the factories below detect
that and raise a clear error at build time (not at executor time). Model
files are distributed via ``SparkContext.addFile`` so every executor loads
them once from local disk — the standard broadcast-artifact pattern for
binary models too big for a closure.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pyworker import forget_zip_importers


def fasttext_lang_udf(model_path: str):
    """Series->Series pandas UDF '(lang|conf)' from a real fastText model.

    Returns a struct-producing UDF: ``lang string, lang_conf double``.
    """
    try:
        import fasttext  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "fasttext is not installed in this environment; the pipeline's "
            "built-in stopword-membership langid (functions/langid.py) is "
            "the active implementation"
        ) from exc

    from pyspark import SparkFiles

    def predict(batch: pd.Series) -> pd.DataFrame:
        forget_zip_importers()
        import fasttext

        model = fasttext.load_model(SparkFiles.get(model_path))
        labels, probs = model.predict(
            batch.fillna("").str.replace("\n", " ", regex=False).tolist()
        )
        return pd.DataFrame({
            "lang": [l[0].replace("__label__", "") if l else "und" for l in labels],
            "lang_conf": [float(p[0]) if len(p) else 0.0 for p in probs],
        })

    return F.pandas_udf(
        predict,
        T.StructType([
            T.StructField("lang", T.StringType()),
            T.StructField("lang_conf", T.DoubleType()),
        ]),
    )


def train_char_bigram_artifact(corpus_text: str, path: str) -> str:
    """Train a Laplace-smoothed char-bigram LM and save it as an ``.npz``
    artifact (lut + logp tables) — the tiny, dependency-free stand-in for a
    real KenLM binary that exercises the full artifact-distribution path
    (train -> save -> ``sc.addFile`` -> executor ``SparkFiles.get`` ->
    score). Same math as the built-in scorer (functions/perplexity.py), so
    training on the same corpus yields bit-identical scores."""
    import numpy as np

    lut = np.zeros(256, np.int32)
    for i in range(26):
        lut[ord("a") + i] = i + 1
    counts = np.ones((27, 27), np.float64)
    codes = lut[np.frombuffer(
        corpus_text.replace("\n", " ").lower().encode("ascii", "replace"), np.uint8
    )]
    np.add.at(counts, (codes[:-1], codes[1:]), 1.0)
    logp = np.log(counts / counts.sum(axis=1, keepdims=True))
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


def kenlm_ppl_udf(model_path: str):
    """Series->Series pandas UDF: per-caption perplexity from a KenLM binary."""
    try:
        import kenlm  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "kenlm is not installed in this environment; the pipeline's "
            "built-in char-bigram scorer (functions/perplexity.py) is the "
            "active implementation"
        ) from exc

    from pyspark import SparkFiles

    @F.pandas_udf(T.DoubleType())
    def score(batch: pd.Series) -> pd.Series:
        forget_zip_importers()
        import kenlm

        model = kenlm.Model(SparkFiles.get(model_path))
        return batch.fillna("").map(lambda s: model.perplexity(s) if s else 1.0)

    return score
