"""Input-source resolution — the Spark analogue of the reference's
per-DBMS adapter dispatch (``/root/reference/src/xoverrr/adapters/``):
one engine, sources differ only by reader format.

Accepted specs:
- a filesystem path              -> ``spark.read.parquet`` (testdata, local)
- ``parquet:`` / ``orc:`` path   -> explicit columnar format readers
- ``csv:`` / ``json:`` path      -> text-format readers (csv assumes a
                                    header row; schema inference costs an
                                    extra scan — fine for dev inputs, give
                                    production CSVs an explicit schema)
- ``binaryfile:`` path[::glob]   -> raw file ingestion (``binaryFile``
                                    format) mapped onto the images schema:
                                    file path becomes ``image_id``, bytes
                                    ``bytes``; w/h/fmt/caption/phash start
                                    empty for the pipeline to fill — the
                                    entry ramp from a directory of crawled
                                    images into the Iceberg table shape
- ``iceberg:catalog.db.table``   -> Iceberg table scan (partition pruning,
                                    snapshot reads; needs the Iceberg
                                    runtime jar on the cluster — present in
                                    production, absent in this sandbox,
                                    detected and reported cleanly)
- ``table:name`` / bare name     -> ``spark.table`` (any registered catalog
                                    table or temp view)

``snapshot_id`` pins an Iceberg snapshot for reproducible reruns (the
resumable runner's input must not move between resume attempts).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .exceptions import QueryExecutionError


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def load_table(
    spark: SparkSession, spec: str, snapshot_id: int | None = None
) -> DataFrame:
    if spec.startswith("iceberg:"):
        ident = spec[len("iceberg:"):]
        if not iceberg_available(spark):
            raise QueryExecutionError(
                "Iceberg runtime not on the classpath; add "
                "org.apache.iceberg:iceberg-spark-runtime to spark.jars.packages "
                "(this sandbox has no network — parquet paths cover local runs)"
            )
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(ident)
    if spec.startswith("binaryfile:"):
        rest = spec[len("binaryfile:"):]
        path, _, glob = rest.partition("::")
        reader = spark.read.format("binaryFile")
        if glob:
            reader = reader.option("pathGlobFilter", glob)
        from pyspark.sql import functions as F

        raw = reader.load(path)
        fmt = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
        return raw.select(
            F.col("path").alias("image_id"),
            F.col("content").alias("bytes"),
            F.lit(None).cast("int").alias("w"),
            F.lit(None).cast("int").alias("h"),
            F.when(fmt == "jpg", "jpeg").otherwise(fmt).alias("fmt"),
            F.lit(None).cast("string").alias("caption"),
            F.lit(None).cast("long").alias("phash"),
        )
    if spec.startswith("table:"):
        return spark.table(spec[len("table:"):])
    if spec.startswith("parquet:"):
        return spark.read.parquet(spec[len("parquet:"):])
    if spec.startswith("orc:"):
        return spark.read.orc(spec[len("orc:"):])
    if spec.startswith("csv:"):
        return spark.read.csv(spec[len("csv:"):], header=True, inferSchema=True)
    if spec.startswith("json:"):
        return spark.read.json(spec[len("json:"):])
    if os.path.sep in spec or os.path.exists(spec):
        return spark.read.parquet(spec)
    return spark.table(spec)


def write_parquet_sized(df, path: str, target_files: int | None = None) -> None:
    """Parquet sink (mode overwrite) with explicit output-file sizing — the
    small-files guard for a many-task job (a 10k-task stage otherwise
    writes 10k tiny files, and at 100 TB the downstream scan dies on file-
    listing + row-group overhead, not bytes).

    ``target_files``: round-robin repartition to exactly N balanced output
    files; None keeps the input partitioning (one file per task).
    """
    if target_files is not None:
        if target_files <= 0:
            raise ValueError("target_files must be positive")
        df = df.repartition(target_files)
    df.write.mode("overwrite").parquet(path)
