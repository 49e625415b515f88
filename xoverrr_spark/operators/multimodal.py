"""Multimodal (binary image) column operators.

Images are opaque ``binary`` columns with typed metadata (w, h, fmt) per
BASELINE.json input_hint. Decode and pixel features (sharpness, entropy,
perceptual hash) run as vectorized pandas batches over ``mapInPandas`` —
the Spark plumbing (schemas, Arrow batch shapes, partition-parallel decode)
is real; the codec is the pure-python PNG module (real for fmt in {png,
jpeg-stand-in}); real JPEG/WebP decoding would need an image library the
package does not depend on, and raises ``NotImplementedError``
(clearly-marked stub path).

The PSNR verifier implements the input_hint invariant: decoded pixels of
the lossy stand-in must be within PSNR >= 40 dB of originals.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codecs.png import decode_image, psnr
from ..intermediates import persist
from ..pyworker import forget_zip_importers

SHARPNESS_SCHEMA = (
    "image_id string, ok boolean, sharpness double, entropy double"
)


def sharpness_stats(df: DataFrame) -> DataFrame:
    """Per-image blur/information signals for an image quality filter:

    - ``sharpness`` — variance of the 4-neighbour Laplacian over the ITU-R
      601 luma (the classic blur detector: defocused/up-scaled images
      have weak second derivatives everywhere, so the variance collapses;
      a constant image scores exactly 0.0). Images with no interior
      (h < 3 or w < 3) score null — there is no Laplacian to take.
    - ``entropy`` — Shannon entropy (bits) of the 256-bin luma histogram:
      near-zero for flat/synthetic fills, ~8 for dense natural images.
      Single-colour images score exactly 0.0.

    Vectorized numpy per Arrow batch inside ``mapInPandas`` (the Laplacian
    is four shifted-slice adds — no python per-pixel loop), no shuffle;
    cost parallelizes with the input splits like every decode op here.
    Null/corrupt payloads become error rows (ok=false), never task
    crashes. Complements the caption-side rule battery (the reference's
    row-level sniff predicates, /root/reference/src/xoverrr/utils.py:262)
    with pixel-side drop signals the reference has no analogue for; like
    compute_phash this is pixel-level, so correctness is pinned by
    closed-form pytest goldens rather than a DuckDB oracle twin.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        forget_zip_importers()
        for pdf in it:
            recs = []
            for iid, blob, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                try:
                    px = decode_image(bytes(blob), fmt).astype(np.float64)
                    luma = px @ np.array([0.299, 0.587, 0.114])
                    if luma.shape[0] >= 3 and luma.shape[1] >= 3:
                        lap = (
                            luma[:-2, 1:-1] + luma[2:, 1:-1]
                            + luma[1:-1, :-2] + luma[1:-1, 2:]
                            - 4.0 * luma[1:-1, 1:-1]
                        )
                        sharp = float(lap.var())
                    else:
                        sharp = None
                    counts = np.bincount(
                        np.clip(luma, 0, 255).astype(np.int64).reshape(-1),
                        minlength=256,
                    )
                    p = counts[counts > 0] / counts.sum()
                    ent = float(-(p * np.log2(p)).sum())
                    recs.append((iid, True, sharp, ent))
                except (ValueError, NotImplementedError, TypeError):
                    recs.append((iid, False, None, None))
            yield pd.DataFrame(
                recs, columns=["image_id", "ok", "sharpness", "entropy"]
            )

    return df.select("image_id", "bytes", "fmt").mapInPandas(
        batches, SHARPNESS_SCHEMA
    )


PSNR_SCHEMA = "image_id string, fmt string, psnr double, lossless boolean"


def psnr_vs_reference(df: DataFrame, reference_pixels: dict[str, np.ndarray]) -> DataFrame:
    """Verification harness: PSNR of each stored image vs caller-provided
    original pixel arrays (keyed by image_id). Small fixture-scale only —
    the dict rides the closure; at scale originals would be a second
    binary column and this becomes a two-column decode."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        forget_zip_importers()
        for pdf in it:
            recs = []
            for iid, blob, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                ref = reference_pixels.get(iid)
                if ref is None:
                    continue
                px = decode_image(bytes(blob), fmt)
                p = psnr(ref, px)
                recs.append((iid, fmt, float(min(p, 1e9)), bool(np.array_equal(ref, px))))
            yield pd.DataFrame(recs, columns=["image_id", "fmt", "psnr", "lossless"])

    return df.select("image_id", "bytes", "fmt").mapInPandas(batches, PSNR_SCHEMA)


PHASH_SCHEMA = "image_id string, phash long"


def compute_phash(df: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual hash (average-hash) computed FROM PIXELS — the real
    producer of the ``phash`` column the runner buckets on (north rule
    partitions by phash bucket; upstream tables may not carry one).

    aHash: decode -> ITU-R 601 luma -> ``grid`` x ``grid`` box-downsample ->
    threshold each cell at the grid mean -> pack the 64 bits into a long.
    Visually-identical images (including the deterministic lossy stand-in's
    quantization) land within a few bits, so phash-bucketing groups
    near-identical images. mapInPandas, no shuffle; cost parallelizes with
    input splits.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        forget_zip_importers()
        for pdf in it:
            recs = []
            for iid, blob, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                if blob is None:
                    # failed download: null phash (band keys go null ->
                    # never pairs; runner's null bucket), never a crash
                    recs.append((iid, None))
                    continue
                px = decode_image(bytes(blob), fmt).astype(np.float64)
                luma = px @ np.array([0.299, 0.587, 0.114])
                h, w = luma.shape
                ys = np.linspace(0, h, grid + 1).astype(int)
                xs = np.linspace(0, w, grid + 1).astype(int)
                cells = np.empty((grid, grid), np.float64)
                for i in range(grid):
                    for j in range(grid):
                        cells[i, j] = luma[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
                bits = (cells >= cells.mean()).reshape(-1)
                val = 0
                for k, b in enumerate(bits):
                    if b:
                        val |= 1 << k
                # keep int64-positive: fold the top bit (bucket keys only)
                recs.append((iid, int(val & 0x7FFFFFFFFFFFFFFF)))
            yield pd.DataFrame(recs, columns=["image_id", "phash"])

    return df.select("image_id", "bytes", "fmt").mapInPandas(batches, PHASH_SCHEMA)


PHASH_BITS = 64


def phash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """(img_a, img_b, hamming) pairs of perceptually near-duplicate IMAGES:
    Hamming distance <= ``max_hamming`` on the 64-bit perceptual hash —
    the image-payload twin of ``dedup.simhash_near_dups`` (re-encoded,
    resized, or lossily re-compressed copies of one image land within a
    few phash bits while their bytes differ completely, so byte-level
    dedup cannot see them).

    If ``phash_col`` is absent the hashes are computed from pixels first
    (``compute_phash``, a mapInPandas with no shuffle). Candidate pairing
    is pigeonhole banding — a pair within distance d agrees exactly on
    >= 1 of d+1 bands — so the join is O(images x bands), never O(n^2);
    one JVM-side ``bit_count(xor)`` verifies exactly. Requires
    bands > max_hamming. ``max_bucket_size`` caps degenerate buckets
    (e.g. millions of monochrome thumbnails share one phash); default
    None = exact recall. Defaults mirror simhash_near_dups; the band
    table is persisted across the self-join (exchanges are never reused)
    and freed by the caller's ``intermediates.scope()``.
    """
    from .dedup import _cap_buckets

    if max_hamming >= bands:
        raise ValueError("max_hamming must be < bands for the pigeonhole")
    if PHASH_BITS % bands != 0:
        raise ValueError(f"bands must divide {PHASH_BITS}")
    sig = (
        df.select(F.col(id_col).alias("image_id"), F.col(phash_col).alias("phash"))
        if phash_col in df.columns
        else compute_phash(df)
    )
    band_bits = PHASH_BITS // bands
    mask = (1 << band_bits) - 1
    bt = sig.select(
        F.col("image_id").alias("doc_id"), "phash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("phash"), b * band_bits)
                .bitwiseAND(F.lit(mask)).alias("bkey"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("doc_id", "phash", "bb.band", "bb.bkey")
    bt = persist(_cap_buckets(bt, max_bucket_size))
    a, b2 = bt.alias("a"), bt.alias("b")
    pairs = (
        a.join(b2, ["band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("img_a"),
            F.col("b.doc_id").alias("img_b"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)
