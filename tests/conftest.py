import os
import uuid

import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_MED = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from drivel_spark.config import build_session

    s = build_session(
        app_name="drivel-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med_dir():
    return SF_MED


@pytest.fixture()
def n_jobs(spark):
    """``n_jobs(fn)``: the Spark jobs ``fn()`` submits, read from the
    status tracker under a job group of their own."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"n_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
