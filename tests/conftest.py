from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from vector_db_at_home_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(fn)`` → (result of ``fn()``, number of Spark jobs it
    ran), counted through a job group and the status tracker."""
    import uuid

    def run(fn):
        sc = spark.sparkContext
        group = f"test-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
