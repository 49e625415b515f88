"""Pure-python PNG codec + DCT lossy codec invariants."""

import numpy as np
import pytest

from xoverrr_spark.codecs.dct import (
    DEFAULT_DCT_QUALITY,
    decode_dct,
    encode_dct,
    quant_table,
)
from xoverrr_spark.codecs.png import (
    decode_image,
    decode_png,
    encode_image,
    encode_png,
    psnr,
)


def _px(seed, h=16, w=16):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


def test_png_roundtrip_lossless():
    px = _px(1)
    assert np.array_equal(decode_png(encode_png(px)), px)


def test_lossy_dct_psnr_above_40_and_actually_lossy():
    # input_hint invariant: decoded pixels allclose, PSNR >= 40 dB for
    # lossy fmt — and uniform noise is the WORST case for transform coding
    for seed, h, w in ((2, 32, 32), (7, 8, 8), (8, 12, 12), (9, 16, 16)):
        px = _px(seed, h, w)
        dec = decode_image(encode_image(px, "jpeg"), "jpeg")
        assert dec.shape == px.shape and dec.dtype == np.uint8
        assert psnr(px, dec) >= 40.0
        assert not np.array_equal(dec, px)  # genuinely lossy, not identity


def test_dct_roundtrip_deterministic():
    px = _px(4)
    assert encode_dct(px) == encode_dct(px)
    assert np.array_equal(decode_dct(encode_dct(px)), decode_dct(encode_dct(px)))


def test_dct_non_multiple_of_8_dims():
    px = _px(5, 13, 11)  # edge-padded internally, cropped on decode
    dec = decode_dct(encode_dct(px))
    assert dec.shape == (13, 11, 3)
    assert psnr(px, dec) >= 40.0


def test_dct_smooth_content_much_better_than_noise():
    # transform coding rewards smooth content: a gradient should land well
    # above the noise floor (sanity that the DCT actually concentrates
    # energy, i.e. this is a frequency-domain codec, not per-pixel noise)
    g = np.linspace(0, 255, 16 * 16 * 3).reshape(16, 16, 3).astype(np.uint8)
    noise = _px(6)
    assert psnr(g, decode_dct(encode_dct(g))) > psnr(noise, decode_dct(encode_dct(noise))) + 5


def test_dct_quality_scales_quant_table():
    assert quant_table(50).max() > quant_table(DEFAULT_DCT_QUALITY).max()
    assert (quant_table(100) == 1).all()
    with pytest.raises(ValueError):
        quant_table(0)


def test_decode_image_dispatches_on_magic():
    # older cached fixtures hold PNG bytes under fmt='jpeg'; newer ones
    # hold DCT1 containers — both must decode
    px = _px(10)
    assert np.array_equal(decode_image(encode_png(px), "jpeg"), px)
    assert psnr(px, decode_image(encode_dct(px), "jpeg")) >= 40.0


def test_identical_psnr_inf():
    px = _px(3)
    assert psnr(px, px) == float("inf")


def test_unknown_fmt_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"xx", "webp")


def test_not_png_raises():
    with pytest.raises(ValueError):
        decode_png(b"definitely not a png")
    with pytest.raises(ValueError):
        decode_dct(b"definitely not a dct container")
