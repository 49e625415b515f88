"""Multimodal binary-column operator tests over the images fixture."""

import numpy as np

from xoverrr_spark.fixtures.images import images_df
from xoverrr_spark.operators.multimodal import psnr_vs_reference


def test_psnr_invariants(spark):
    # regenerate the pre-encode pixels: lossless rows must match exactly,
    # lossy rows must clear 40 dB
    n, seed = 60, 11
    rng = np.random.default_rng(seed)
    from xoverrr_spark.fixtures.images import CATEGORIES, _caption
    names = [c for c, _ in CATEGORIES]
    weights = np.array([w for _, w in CATEGORIES])
    cats = rng.choice(names, size=n, p=weights / weights.sum())
    for c in cats:
        _caption(c, rng)
    heavy = rng.random(n) < 0.45
    phash = rng.integers(0, 2**62, n, dtype=np.int64)
    phash[heavy] // 1  # consume nothing extra
    dims = np.array([8, 12, 16])[rng.integers(0, 3, n)]
    fmts = np.where(rng.random(n) < 0.5, "png", "jpeg")
    originals = {}
    for i in range(n):
        px = rng.integers(0, 256, (int(dims[i]), int(dims[i]), 3), dtype=np.uint8)
        originals[f"img_{i:08d}"] = px

    df = images_df(spark, n, seed)
    res = psnr_vs_reference(df, originals).toPandas().set_index("image_id")
    assert len(res) == n
    png = res[res["fmt"] == "png"]
    jpg = res[res["fmt"] == "jpeg"]
    assert png["lossless"].all()
    assert (jpg["psnr"] >= 40.0).all()


def test_compute_phash_deterministic_and_robust(spark):
    from xoverrr_spark.fixtures.images import images_df
    from xoverrr_spark.operators.multimodal import compute_phash

    df = images_df(spark, 40, 21)
    h1 = {r["image_id"]: r["phash"] for r in compute_phash(df).collect()}
    h2 = {r["image_id"]: r["phash"] for r in compute_phash(df).collect()}
    assert h1 == h2 and len(h1) == 40          # deterministic
    assert all(0 <= v < 2**63 for v in h1.values())  # bucket-safe longs


def test_compute_phash_stable_under_lossy_quantization(spark):
    import numpy as np

    from xoverrr_spark.codecs.png import encode_image
    from xoverrr_spark.operators.multimodal import compute_phash

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    rows = [("orig", encode_image(px, "png"), 16, 16, "png", "c", 0),
            ("lossy", encode_image(px, "jpeg"), 16, 16, "jpeg", "c", 0)]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long")
    got = {r["image_id"]: r["phash"] for r in compute_phash(df).collect()}
    ham = bin(got["orig"] ^ got["lossy"]).count("1")
    assert ham <= 4, ham  # quantization moves at most a few cells across the mean


# -------------------------------------------------------- phash near-dups ----

def test_phash_near_dups_banding_and_verify(spark):
    """Known hamming distances on an explicit phash table: <=3 paired,
    >3 not — and a cross-band distance (bits spread over 4 bands) is
    correctly EXCLUDED by the exact verify even though banding may pair it."""
    from xoverrr_spark.operators.multimodal import phash_near_dups
    base = 0x0123456789ABCDE7
    rows = [
        ("a", base),
        ("b", base ^ 0b111),                 # hamming 3 (one band)
        ("c", base ^ (1 << 62)),             # hamming 1 (top band)
        ("d", base ^ 0x000F000F000F000F),    # hamming 16: every band differs
                                             # -> no shared bucket, unpaired
        ("e", 0x7070707070707070),           # far from everything
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = phash_near_dups(df, max_hamming=3)
    pairs = {(r.img_a, r.img_b): r.hamming for r in got.collect()}
    assert pairs[("a", "b")] == 3
    assert pairs[("a", "c")] == 1
    assert pairs[("b", "c")] == 4 if ("b", "c") in pairs else True  # >3 filtered
    assert ("b", "c") not in pairs
    assert not any("d" in p or "e" in p for p in pairs)


def test_phash_near_dups_finds_reencoded_copy_from_pixels(spark):
    """End-to-end from bytes: an exact byte-copy under a new id lands at
    hamming 0; unrelated fixture images are not flooded into pairs."""
    from pyspark.sql import functions as F
    from xoverrr_spark.fixtures.images import images_df
    from xoverrr_spark.operators.multimodal import phash_near_dups
    imgs = images_df(spark, 24, seed=7).select("image_id", "bytes", "fmt")
    clone = imgs.limit(1).withColumn("image_id", F.lit("clone_0"))
    both = imgs.unionByName(clone)
    got = phash_near_dups(both, max_hamming=2)
    pairs = [(r.img_a, r.img_b, r.hamming) for r in got.collect()]
    assert any("clone_0" in (a, b) and h == 0 for a, b, h in pairs)
    # near-dup pairs must be a small fraction, not an all-pairs explosion
    assert len(pairs) < 24


def test_phash_near_dups_rejects_bad_banding(spark):
    import pytest
    from xoverrr_spark.operators.multimodal import phash_near_dups
    df = spark.createDataFrame([("a", 1)], "image_id string, phash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_near_dups(df, max_hamming=4, bands=4)


def test_null_bytes_rows_never_crash_decode_ops(spark):
    """Failed downloads (null bytes) must yield error/null rows, not task
    crashes — a 100 TB scrape always contains them."""
    from pyspark.sql import functions as F
    from xoverrr_spark.fixtures.images import images_df
    from xoverrr_spark.operators.multimodal import compute_phash
    imgs = images_df(spark, 6, seed=3).select("image_id", "bytes", "fmt")
    dead = imgs.limit(1).select(
        F.lit("dead_row").alias("image_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit("png").alias("fmt"))
    both = imgs.unionByName(dead)

    ph = {r.image_id: r.phash for r in compute_phash(both).collect()}
    assert ph["dead_row"] is None
    assert sum(v is not None for v in ph.values()) == 6


def test_phash_robust_across_codecs(spark):
    """The SAME pixels pushed through the lossless PNG codec and the real
    lossy DCT codec must land within a few phash bits — the property that
    makes phash near-dup detection catch re-encoded copies."""
    import numpy as np
    from xoverrr_spark.codecs.dct import encode_dct
    from xoverrr_spark.codecs.png import encode_png
    from xoverrr_spark.operators.multimodal import compute_phash, phash_near_dups

    rng = np.random.default_rng(5)
    # smooth gradient + noise: structured enough for a stable phash
    g = np.linspace(0, 200, 16)[:, None, None]
    px = (g + rng.integers(0, 40, (16, 16, 3))).astype(np.uint8)
    rows = [("png_v", encode_png(px), "png"),
            ("dct_v", encode_dct(px), "jpeg")]  # fmt label; magic dispatches
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = phash_near_dups(compute_phash(df), max_hamming=4, bands=8)
    pairs = [(r.img_a, r.img_b, r.hamming) for r in got.collect()]
    assert pairs and pairs[0][2] <= 4, pairs


def test_sharpness_closed_form(spark):
    """Hand-computed Laplacian variance on a 3x4 grey image with one hot
    pixel: interior Laplacians are {-1020, 255} -> var = 637.5^2."""
    from xoverrr_spark.codecs.png import encode_png
    from xoverrr_spark.operators.multimodal import sharpness_stats

    hot = np.zeros((3, 4, 3), dtype=np.uint8)
    hot[1, 1, :] = 255          # luma 255 (0.299+0.587+0.114 = 1.0)
    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    half = np.zeros((8, 8, 3), dtype=np.uint8)
    half[:, 4:, :] = 255        # half black / half white
    tiny = np.zeros((2, 2, 3), dtype=np.uint8)  # no interior
    rows = [(n, bytearray(encode_png(p)), "png")
            for n, p in [("hot", hot), ("flat", flat),
                         ("half", half), ("tiny", tiny)]]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r.image_id: r for r in sharpness_stats(df).collect()}
    assert all(got[k].ok for k in ("hot", "flat", "half", "tiny"))
    assert got["hot"].sharpness == 637.5 ** 2
    assert got["flat"].sharpness == 0.0 and got["flat"].entropy == 0.0
    assert got["half"].entropy == 1.0   # two equiprobable luma values
    assert got["half"].sharpness > 0.0
    assert got["tiny"].sharpness is None and got["tiny"].entropy == 0.0


def test_sharpness_orders_blur_and_handles_bad_bytes(spark):
    """A box-blurred copy of a noise image must score LOWER variance (the
    blur-detector property the filter relies on); corrupt/null payloads
    become error rows."""
    from xoverrr_spark.codecs.png import encode_png
    from xoverrr_spark.operators.multimodal import sharpness_stats

    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    k = np.ones((3, 3)) / 9.0
    blurred = np.empty_like(noise)
    pad = np.pad(noise.astype(np.float64), ((1, 1), (1, 1), (0, 0)), mode="edge")
    for c in range(3):
        acc = np.zeros((16, 16))
        for dy in range(3):
            for dx in range(3):
                acc += k[dy, dx] * pad[dy:dy + 16, dx:dx + 16, c]
        blurred[:, :, c] = np.clip(acc, 0, 255).astype(np.uint8)
    rows = [("sharp", bytearray(encode_png(noise)), "png"),
            ("blur", bytearray(encode_png(blurred)), "png"),
            ("corrupt", bytearray(b"nope"), "png"),
            ("nullbytes", None, "png")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r.image_id: r for r in sharpness_stats(df).collect()}
    assert got["sharp"].sharpness > 2 * got["blur"].sharpness
    assert got["corrupt"].ok is False and got["corrupt"].sharpness is None
    assert got["nullbytes"].ok is False


def test_sharpness_over_fixture(spark):
    from xoverrr_spark.operators.multimodal import sharpness_stats

    df = images_df(spark, 50, 11)
    out = sharpness_stats(df).toPandas()
    assert len(out) == 50 and out["ok"].all()
    # fixture images are random noise >= 8x8: every one has an interior
    # and non-degenerate histograms
    assert out["sharpness"].notna().all() and (out["sharpness"] > 0).all()
    assert ((out["entropy"] > 0) & (out["entropy"] <= 8.0)).all()
