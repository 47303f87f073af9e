import os

import pytest

from frontier_engine.session import get_spark

# The suite runs one long-lived JVM.  At get_spark's 16g default heap the
# collector lets it grow past what a 15 GB host has before collecting, and
# the OS kills it mid-suite; every later Spark test then fails.  4g holds the
# whole suite.  An explicit SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("local[8]", app_name="frontier-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    from frontier_engine import synth
    from frontier_engine.schema import PAGES

    return spark.createDataFrame(synth.gen_pages(300), schema=PAGES).cache()
