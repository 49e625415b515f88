"""get_spark contract: true first-caller-wins — a later call must never
mutate the live session's runtime confs, from the main thread OR a worker
thread (getActiveSession is thread-local; the default-session fallback
covers threads)."""

import threading

from xoverrr_spark.session import get_spark


def test_get_spark_returns_live_session_untouched(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    s2 = get_spark("clobber_attempt", cores=2, shuffle_partitions=1,
                   extra_conf={"spark.sql.shuffle.partitions": "1"})
    assert s2 is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_get_spark_from_worker_thread_no_clobber(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = {}

    def worker():
        got["s"] = get_spark("thread_caller", shuffle_partitions=1)

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert got["s"] is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_dataframe_debugging_off_by_default(spark):
    # per-call call-site capture costs py4j round trips on every Column
    # call; get_spark turns it off (see the session module docstring)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_missing_key_column_still_fails_loudly(spark, tmp_path):
    # with call-site capture off, the error class and the column name
    # still reach the FAILED report
    from xoverrr_spark.checker import QualityChecker

    df = spark.createDataFrame([(1, "a")], "id int, name string")
    qc = QualityChecker(spark, results_table=str(tmp_path / "runs"))
    status, report, stats, details = qc.check_samples(
        df, df, custom_primary_key=["no_such_key"])
    assert status == "failed"
    assert stats is None and details is None
    assert "UNRESOLVED_COLUMN" in report and "no_such_key" in report
