from __future__ import annotations

import itertools

import pytest

from srag_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="srag-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


_job_groups = itertools.count()


@pytest.fixture()
def jobs_run_by(spark):
    """jobs_run_by(fn) → (fn(), ids of the Spark jobs fn ran), counted
    through a one-off job group."""
    sc = spark.sparkContext

    def run(fn):
        group = f"job-count-{next(_job_groups)}"
        sc.setJobGroup(group, "job count probe")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
