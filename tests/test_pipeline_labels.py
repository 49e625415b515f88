"""Label-parity gate: Spark pipeline vs the independent golden labeler.

BASELINE.json metric: keep/drop F1 >= 0.99 + scrubbed caption exact match;
per-row invariants: decoded-pixel allclose (PSNR >= 40 dB lossy), caption
byte-equality through the pipeline.
"""

import numpy as np
import pytest

from xoverrr_spark.codecs.png import decode_image
from xoverrr_spark.fixtures.images import generate_images_pdf, images_df
from xoverrr_spark.fixtures.labeler import label_frame
from xoverrr_spark.pipeline.quality_filter import annotate, quality_filter

N = 1500
SEED = 42


@pytest.fixture(scope="module")
def fixture_pdf():
    return generate_images_pdf(N, SEED)


@pytest.fixture(scope="module")
def golden(fixture_pdf):
    return label_frame(fixture_pdf).set_index("image_id")


@pytest.fixture(scope="module")
def spark_result(spark, fixture_pdf):
    df = images_df(spark, N, SEED)
    return (
        quality_filter(df)
        .toPandas()
        .set_index("image_id")
        .sort_index()
    )


def test_keep_f1_at_least_099(golden, spark_result):
    g = golden.sort_index()["keep"].to_numpy()
    s = spark_result["keep"].to_numpy()
    tp = int(np.sum(g & s))
    fp = int(np.sum(~g & s))
    fn = int(np.sum(g & ~s))
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep/drop F1 {f1}: fp={fp} fn={fn}"
    # with a shared spec we expect exact agreement, not just F1
    assert fp == 0 and fn == 0


def test_scrubbed_caption_exact_match(golden, spark_result):
    g = golden.sort_index()["caption_scrubbed"]
    s = spark_result["caption_scrubbed"]
    mismatch = (g != s)
    assert mismatch.sum() == 0, g[mismatch].head().to_dict() | {"spark": s[mismatch].head().to_dict()}


def test_drop_reasons_and_lang_match(golden, spark_result):
    g = golden.sort_index()
    for gid, grow in g.iterrows():
        srow = spark_result.loc[gid]
        assert list(srow["drop_reasons"]) == list(grow["drop_reasons"]), gid
        assert srow["lang"] == grow["lang"], gid


def test_ppl_matches_scalar_reference(golden, spark_result):
    g = golden.sort_index()["ppl"].to_numpy()
    s = spark_result["ppl"].to_numpy()
    assert np.allclose(g, s, rtol=1e-9)


def test_keep_rate_sane(spark_result):
    rate = spark_result["keep"].mean()
    assert 0.35 < rate < 0.85, rate


def test_pixel_and_caption_invariants(fixture_pdf):
    # every stored image decodes to its recorded shape
    sub = fixture_pdf.head(60)
    for _, r in sub.iterrows():
        px = decode_image(r["bytes"], r["fmt"])
        assert px.shape == (r["h"], r["w"], 3)
    # caption passes through annotate() untouched
    assert "caption" in sub.columns


def test_annotate_preserves_caption_bytes(spark, fixture_pdf):
    df = images_df(spark, 200, SEED)
    out = annotate(df).select("image_id", "caption", "bytes").toPandas().set_index("image_id")
    src = generate_images_pdf(200, SEED).set_index("image_id")
    for gid in src.index[:100]:
        assert out.loc[gid, "caption"] == src.loc[gid, "caption"]
        assert bytes(out.loc[gid, "bytes"]) == bytes(src.loc[gid, "bytes"])


def test_diff_engine_verifies_pipeline_against_golden(spark, fixture_pdf, golden):
    """Dogfood: the diff engine IS the verification harness (SURVEY.md
    mapping row 'compare_dataframes -> F1 harness'). Pipeline output diffed
    against the independent golden labels must score exactly 100."""
    from xoverrr_spark.operators.diff import compare_frames
    from xoverrr_spark.fixtures.images import images_df

    ours = (
        quality_filter(images_df(spark, N, SEED))
        .select("image_id", "keep", "caption_scrubbed")
    )
    g = golden.reset_index()[["image_id", "keep", "caption_scrubbed"]]
    gdf = spark.createDataFrame(g)
    stats, details = compare_frames(ours, gdf, ["image_id"])
    assert stats.final_score == 100.0
    assert stats.comparable_rows == N and stats.passed_rows == N


def test_pipeline_with_sparkfiles_artifact(spark, tmp_path):
    """End-to-end artifact distribution (VERDICT r01 #10): train a tiny
    char-LM, save it, ship via sc.addFile, and run the pipeline with the
    artifact-backed scorer — trained on the built-in seed corpus, the
    scores must be bit-identical to the embedded-table UDF."""
    from xoverrr_spark.fixtures.images import images_df
    from xoverrr_spark.functions.models import (
        artifact_ppl_udf,
        train_char_bigram_artifact,
    )
    from xoverrr_spark.functions.perplexity import _SEED_CORPUS
    from xoverrr_spark.pipeline.quality_filter import quality_filter

    path = str(tmp_path / "charlm.npz")
    train_char_bigram_artifact(_SEED_CORPUS, path)
    spark.sparkContext.addFile(path)

    df = images_df(spark, 80, 5)
    with_artifact = {
        r["image_id"]: (r["ppl"], r["keep"])
        for r in quality_filter(df, ppl_udf_override=artifact_ppl_udf("charlm.npz")).collect()
    }
    builtin = {
        r["image_id"]: (r["ppl"], r["keep"])
        for r in quality_filter(df).collect()
    }
    assert with_artifact == builtin
    assert len(with_artifact) == 80
