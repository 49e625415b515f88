"""Character-bigram perplexity — a KenLM-style n-gram LM scorer, fully
vectorized (numpy over Arrow batches; zero per-row Python).

The model is a Laplace-smoothed character-bigram table trained at import
time on a small English seed corpus embedded below (no external data; the
sandbox has no model files). The table is ~27x27 floats and is captured in
the pandas-UDF closure, so Spark broadcasts it once per executor — the same
shape a real KenLM binary would take (broadcast artifact + batch scorer).

Batch scoring strategy: concatenate the whole Arrow batch into one byte
buffer, map bytes->alphabet codes with a 256-entry LUT, index the bigram
log-prob table with one fancy-index, and reduce per row with
``np.add.reduceat`` — O(total_chars) with no Python loop over rows.

What the Python hop costs is therefore not this per-row work but the
fixed set-up every Python-UDF task pays: at 40k captions on a 4-core host
a task scored its batch in 0.03-0.1 s, while PySpark's per-task
``importlib.invalidate_caches()`` re-read pyspark.zip and the Spark jar
for 0.2-0.5 s. ``batch_perplexity_with_tables`` therefore starts with
``pyworker.forget_zip_importers()``, which leaves the next task nothing
to re-read.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..pyworker import forget_zip_importers

# 'a'-'z' -> 1..26, everything else (incl. space) -> 0
_ALPHA = 27

_SEED_CORPUS = """
a photo of a dog sitting on the grass near a wooden fence in the afternoon sun
two people walking along the beach while waves roll onto the sand behind them
the red car is parked in front of an old brick building with large windows
a close up view of a coffee cup on a table next to an open book and glasses
children playing football in the park on a bright summer day with their friends
a mountain landscape with snow covered peaks and a clear blue sky above the valley
the cat sleeps on the window sill while rain falls quietly outside the house
fresh vegetables and fruit arranged on a wooden market stall in the morning light
a group of friends having dinner together at a long table in a warm restaurant
the train crosses the bridge over the river as the sun sets behind the hills
an old man reads the newspaper on a bench under a tree in the quiet square
the boat sails across the calm lake with mountains reflected in the water
"""


def char_bigram_tables(corpus_text: str) -> tuple[np.ndarray, np.ndarray]:
    """Train a Laplace-smoothed char-bigram LM on ``corpus_text``: the
    256-entry byte->code LUT and the 27x27 log-prob table the scorer reads."""
    lut = np.zeros(256, np.int32)
    for i in range(26):
        lut[ord("a") + i] = i + 1
    counts = np.ones((_ALPHA, _ALPHA), np.float64)  # Laplace smoothing
    codes = lut[np.frombuffer(corpus_text.replace("\n", " ").lower().encode("ascii", "replace"), np.uint8)]
    np.add.at(counts, (codes[:-1], codes[1:]), 1.0)
    logp = np.log(counts / counts.sum(axis=1, keepdims=True))
    return lut, logp


_LUT, _LOGP = char_bigram_tables(_SEED_CORPUS)


def batch_perplexity(captions: pd.Series) -> pd.Series:
    """Vectorized char-bigram perplexity for a batch of strings.

    Rows with fewer than 2 characters get a neutral ppl of 1.0.
    """
    return batch_perplexity_with_tables(captions, _LUT, _LOGP)


def batch_perplexity_with_tables(
    captions: pd.Series, lut: np.ndarray, logp: np.ndarray
) -> pd.Series:
    """Same vectorized scorer over EXPLICIT model tables — the entry point
    for artifact-backed models distributed via SparkFiles
    (functions/models.py:artifact_ppl_udf)."""
    forget_zip_importers()
    s = captions.fillna("").astype(str).str.lower().str.encode("ascii", errors="replace")
    lens = s.str.len().to_numpy(np.int64)
    n = len(lens)
    if n == 0:
        return pd.Series([], dtype=np.float64)
    total = int(lens.sum())
    if total == 0:
        return pd.Series(np.ones(n), index=captions.index)

    buf = b"".join(s.tolist())
    codes = lut[np.frombuffer(buf, np.uint8)]
    # bigram log-probs at positions i -> (i, i+1); last char of each row and
    # cross-row boundaries are invalid
    lp = np.zeros(total, np.float64)
    if total >= 2:
        lp[:-1] = logp[codes[:-1], codes[1:]]
    ends = np.cumsum(lens)
    starts = ends - lens
    lp[ends[:-1] - 1] = 0.0  # kill cross-row bigrams
    lp[-1] = 0.0

    # per-row sums; reduceat needs strictly valid start offsets (empty rows
    # repeat offsets — reduceat returns the element there, so zero it after)
    safe_starts = np.minimum(starts, total - 1)
    sums = np.add.reduceat(lp, safe_starts)
    sums[lens == 0] = 0.0
    nbi = np.maximum(lens - 1, 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        ppl = np.exp(-sums / np.maximum(nbi, 1))
    ppl[lens < 2] = 1.0
    return pd.Series(ppl, index=captions.index)


def scalar_perplexity(text: str | None) -> float:
    """Per-row scorer over the same table (used by the independent golden
    labeler; same spec, different implementation path)."""
    if text is None:
        text = ""
    b = str(text).lower().encode("ascii", "replace")
    if len(b) < 2:
        return 1.0
    codes = _LUT[np.frombuffer(b, np.uint8)]
    lp = _LOGP[codes[:-1], codes[1:]]
    return float(np.exp(-lp.sum() / len(lp)))
