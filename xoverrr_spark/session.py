"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), Arrow on
(every pandas UDF hop is columnar), shuffle partitions sized to cores
rather than the 200 default, UTC session timezone (the reference pins a
session timezone per query — ``adapters/postgres.py:38``; one engine here,
one setting).

DataFrame debugging is off (``spark.python.sql.dataFrameDebugging.enabled``
= false). With it on, every PySpark ``Column``/``DataFrame`` method call
walks the Python stack and makes several py4j round trips to record its
call site; building a check's diff plan makes hundreds of such calls, and
Spark's docs warn of the "non-trivial performance overhead". The trade: a
runtime error's error class, message and SQLSTATE are unchanged, but the
"called from" line of its DataFrame query context no longer names the
user's Python file:line. Pass ``extra_conf`` to turn it back on when
debugging a plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType


def get_spark(
    app_name: str = "xoverrr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or return) the process-wide SparkSession.

    FIRST CALLER WINS, fully: if a live session already exists it is
    returned UNTOUCHED. This is not what bare ``getOrCreate`` does —
    ``builder.config(...).getOrCreate()`` silently RE-APPLIES every
    runtime SQL conf to the existing session, so a library entry point
    calling ``get_spark()`` (e.g. ``pipeline.runner.main``) would clobber
    the caller's session settings (``spark.sql.shuffle.partitions`` above
    all). That exact clobber made an AQE plan pin flake only in full-suite
    runs. Per-call knobs (``cores``/``shuffle_partitions``/``extra_conf``)
    therefore apply only when this call actually creates the session.
    """
    # getActiveSession is THREAD-local — a worker thread would see None
    # and fall through to getOrCreate (which re-applies confs to the
    # process-wide default session, the exact clobber this guard exists
    # to stop) — so check the instantiated default session as well
    existing = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if existing is not None:
        try:
            alive = not existing.sparkContext._jsc.sc().isStopped()
        except Exception:
            alive = False
        if alive:
            return existing
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # this engine's dominant shapes are join -> keyed agg; by default
        # AQE will NOT split a skewed join partition when the downstream
        # agg shares the join partitioning (splitting costs one extra
        # shuffle) and the hot-key straggler survives. At real skew the
        # straggler dominates that shuffle — opt in. Results identical;
        # pinned by tests/test_skew_aqe.py.
        .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("XOVERRR_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame of ``rows`` typed by the DDL ``schema``.

    ``createDataFrame(list)`` plans an ``ExistingRDD`` of pickled rows, so
    the job that reads it starts a Python worker (and the pyspark daemon)
    just to unpickle them. Here the rows travel as one Arrow table and
    plan as a ``LocalTableScan``: no Python worker, same schema, same
    values.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
