"""Canonical-string normalization branches + text-analysis functions."""

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.functions.normalize import canonicalize
from xoverrr_spark.functions.tokens import (
    bpe_token_count,
    fingerprint,
    md5_long,
    normalized_text,
    quality_score,
    ws_token_count,
)


def _canon_one(spark, value, spark_type):
    df = spark.createDataFrame([(value,)], f"v {spark_type}")
    return canonicalize(df).collect()[0]["v"]


@pytest.mark.parametrize(
    "value,spark_type,expected",
    [
        (None, "string", "N/A"),
        ("  ", "string", "N/A"),
        ("None", "string", "N/A"),
        ("nAn", "string", "N/A"),
        ("NaT", "string", "N/A"),
        ("ok", "string", "ok"),
        (5.0, "double", "5"),
        (5.5, "double", "5.5"),
        (-3.0, "double", "-3"),
        (True, "boolean", "1"),
        (False, "boolean", "0"),
        (None, "boolean", "N/A"),
        (7, "int", "7"),
        (date(2024, 3, 1), "date", "2024-03-01"),
        (datetime(2024, 3, 1, 0, 0, 0), "timestamp", "2024-03-01"),
        (datetime(2024, 3, 1, 12, 30, 5), "timestamp", "2024-03-01 12:30:05"),
        (b"\x01\xff", "binary", "01FF"),
    ],
)
def test_canonical_values(spark, value, spark_type, expected):
    assert _canon_one(spark, value, spark_type) == expected


def test_canonical_float_trailing_zeros(spark):
    # 1.50 -> '1.5'; 0.070 stays '0.07'
    assert _canon_one(spark, 1.50, "double") == "1.5"
    assert _canon_one(spark, 0.07, "double") == "0.07"


def test_canonical_array_to_json(spark):
    df = spark.createDataFrame([([1, 2],)], "v array<int>")
    assert canonicalize(df).collect()[0]["v"] == "[1,2]"


def test_exclude_passthrough(spark):
    df = spark.createDataFrame([(1, b"raw")], "id int, payload binary")
    out = canonicalize(df, exclude=["payload"])
    row = out.collect()[0]
    assert row["id"] == "1" and bytes(row["payload"]) == b"raw"


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! a2b",)], "t string")
    r = df.select(
        ws_token_count(F.col("t")).alias("ws"),
        bpe_token_count(F.col("t")).alias("bpe"),
    ).collect()[0]
    assert r["ws"] == 3
    # Hello , world ! a 2 b  => 7 BPE-ish pieces
    assert r["bpe"] == 7


def test_fingerprint_ws_case_insensitive(spark):
    df = spark.createDataFrame([("A  b C",), ("a b c",)], "t string")
    fps = [r["fp"] for r in df.select(fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_md5_long_matches_duckdb(spark):
    import duckdb

    vals = ["hello", "", "tënçödé", "123"]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", md5_long(F.col("t")).alias("h")).collect()}
    for v in vals:
        expect = duckdb.sql(
            "select ('0x'||substr(md5(?),1,15))::BIGINT", params=[v]
        ).fetchone()[0]
        assert got[v] == expect, v


def test_quality_score_range(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = d.select(quality_score(F.col("text")).alias("q")).agg(
        F.min("q"), F.max("q")
    ).collect()[0]
    assert 0 <= r[0] <= r[1] <= 100

