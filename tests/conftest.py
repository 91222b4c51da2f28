from __future__ import annotations

import pytest

from big_data_assignment_2_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bda2-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def job_count(spark):
    """``job_count(group, action)``: the Spark jobs ``action`` launches,
    counted under its own job group."""
    def count(group: str, action) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count
