import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("xclim-spark-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def last_sql_execution(spark):
    """Zero-argument callable: id of the newest SQL execution Spark's
    status store has seen (-1 if none), read after the listener bus has
    delivered every event.  The difference of two calls counts the
    Spark actions made in between."""
    def last() -> int:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        execs = spark._jsparkSession.sharedState().statusStore() \
            .executionsList()
        return -1 if execs.isEmpty() else execs.last().executionId()

    return last


def series(spark, values, **kw):
    from xclim_spark.testing import timeseries

    return timeseries(spark, values, **kw)


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: full-registry sweeps (plan hygiene)")
