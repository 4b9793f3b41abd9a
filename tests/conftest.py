from __future__ import annotations

import uuid

import pytest

from cnc_visionsearch_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="cnc_visionsearch_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)``: the Spark jobs ``fn()`` submits, counted
    through a job group that is fresh for every call. Job counts do not
    depend on how busy the machine is, so budgets on them are exact.
    ``statusTracker()`` keeps only the last ``spark.ui.retainedJobs``
    jobs (1000 by default), so a group reused across calls loses its
    early jobs and before/after differences can go negative."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
