import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from godal_spark.session import get_spark

    s = get_spark("godal_spark_tests", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                  shuffle_partitions=8)
    yield s


_JOB_GROUPS = itertools.count()


@pytest.fixture
def jobs_of(spark):
    """jobs_of(fn) -> (Spark jobs fn ran, fn's result): the job ids a
    one-off job group collects around fn, from the StatusTracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"job-budget-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run
