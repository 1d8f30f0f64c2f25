import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs533_big_data_data_mining_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cs533_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g", "spark.sql.files.maxPartitionBytes": "16m"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return f"{TESTDATA}/sf0.001"


@pytest.fixture
def session_state(spark):
    """Snapshot callable of what a run can leave behind in the session:
    the persistent-RDD ids and the number of CacheManager registrations
    (read through reflection — Spark has no public listing)."""

    def snap():
        rdds = frozenset(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        cm = spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return rdds, int(field.get(cm).size())

    return snap
