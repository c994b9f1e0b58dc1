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
