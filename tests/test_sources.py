"""Source-spec resolution: every reader format + clean Iceberg absence."""

import pytest

from xoverrr_spark.exceptions import QueryExecutionError
from xoverrr_spark.sources import load_table


def test_format_prefixes_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    base = str(tmp_path)
    df.write.parquet(f"{base}/p")
    df.write.orc(f"{base}/o")
    df.write.option("header", True).csv(f"{base}/c")
    df.write.json(f"{base}/j")
    for spec in (f"{base}/p", f"parquet:{base}/p", f"orc:{base}/o",
                 f"csv:{base}/c", f"json:{base}/j"):
        got = load_table(spark, spec)
        assert got.count() == 2
        assert {r["v"] for r in got.select("v").collect()} == {"a", "b"}


def test_table_prefix_and_bare_name(spark):
    spark.createDataFrame([(7,)], "x int").createOrReplaceTempView("src_probe")
    assert load_table(spark, "table:src_probe").count() == 1
    assert load_table(spark, "src_probe").count() == 1


def test_iceberg_absence_reported_cleanly(spark):
    with pytest.raises(QueryExecutionError, match="Iceberg runtime"):
        load_table(spark, "iceberg:cat.db.t")


def test_binaryfile_source_maps_raw_images_to_schema(spark, tmp_path):
    import numpy as np

    from xoverrr_spark.codecs.png import decode_image, encode_png
    from xoverrr_spark.sources import load_table

    d = tmp_path / "raw_imgs"
    d.mkdir()
    rng = np.random.default_rng(3)
    pixels = {}
    for i in range(4):
        px = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        (d / f"img_{i}.png").write_bytes(encode_png(px))
        pixels[f"img_{i}.png"] = px
    (d / "notes.txt").write_bytes(b"not an image")

    df = load_table(spark, f"binaryfile:{d}::*.png")
    rows = df.collect()
    assert len(rows) == 4                      # glob filtered the .txt out
    assert df.columns == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    for r in rows:
        assert r["fmt"] == "png"
        name = r["image_id"].rsplit("/", 1)[-1]
        assert np.array_equal(decode_image(bytes(r["bytes"]), "png"), pixels[name])


def test_binaryfile_source_jpg_normalized_to_jpeg(spark, tmp_path):
    from xoverrr_spark.sources import load_table

    d = tmp_path / "raw2"
    d.mkdir()
    (d / "a.jpg").write_bytes(b"\xff\xd8fakejpeg")
    df = load_table(spark, f"binaryfile:{d}")
    assert df.collect()[0]["fmt"] == "jpeg"


def test_write_parquet_sized_target_files(spark, tmp_path):
    import glob
    from xoverrr_spark.sources import write_parquet_sized
    df = spark.range(1000).repartition(37)          # the "too many tasks" input
    out = str(tmp_path / "sized")
    write_parquet_sized(df, out, target_files=4)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 4
    assert spark.read.parquet(out).count() == 1000
