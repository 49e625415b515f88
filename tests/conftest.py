import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xoverrr_spark.intermediates import scope
from xoverrr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("xoverrr_tests", cores=int(os.environ.get("XOVERRR_TEST_CORES", "4")),
                  shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(autouse=True)
def _intermediates_scope():
    """Each test runs inside one scope, as a driver wraps each query: frames
    an operator persists are freed when the test ends."""
    with scope():
        yield


@pytest.fixture
def sql_plans(spark):
    """``run(fn)`` calls ``fn`` and returns the plan description of each SQL
    execution it started, oldest first, read from the SQL status store (an
    adaptive plan's description is the last plan the execution reported)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def latest(n):
        # execution events reach the status store through the listener bus
        bus.waitUntilEmpty()
        seq = store.executionsList(max(store.executionsCount() - n, 0), n)
        return [seq.apply(i) for i in range(seq.size())]

    def run(fn):
        before = max((e.executionId() for e in latest(1)), default=-1)
        fn()
        return [e.physicalPlanDescription() for e in latest(20) if e.executionId() > before]

    return run
