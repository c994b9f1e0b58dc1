import os
import time

import pytest

from wrangler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wrangler_spark_tests", cpus=4)
    yield s


@pytest.fixture
def jobs(spark):
    """``jobs(fn)``: the Spark jobs ``fn()`` launched, by the scheduler's
    job-id counter around the call (the counter ``perfbench/spans.py``
    reads)."""
    dag = spark._jsparkSession.sparkContext().dagScheduler()

    def count(fn) -> int:
        lo = int(dag.nextJobId())
        fn()
        return int(dag.nextJobId()) - lo

    return count


@pytest.fixture
def off_utc_driver():
    """The driver process's local zone set off UTC (the session's zone
    stays UTC): PySpark collects a timestamp as a naive datetime in that
    zone, so a frame rebuilt from collected values must read them in
    that zone, or they come back shifted by the offset."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()
