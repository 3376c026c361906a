import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_flink_spark.session import get_spark, load_tables, testdata_dir  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", testdata_dir("0.001"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mini-flink-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def no_streaming_query_outlives_its_test():
    yield
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is None:
        return
    active = session.streams.active
    for q in active:
        q.stop()
    assert not active, f"streaming queries left running: {[q.name or q.id for q in active]}"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    return load_tables(spark, sf_dir)
