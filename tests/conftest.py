from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_spark.session import default_driver_mem, get_session  # noqa: E402

# the suite's one JVM is sized from the host unless a size is set
default_driver_mem()

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="airflow_spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def untagged_jobs(spark):
    """``count(fn) -> (fn(), n)``: ``n`` is the number of Spark jobs with
    no job group that started while ``fn`` ran. Counted as new job ids,
    so the UI's cap on retained jobs cannot hide them."""
    tracker = spark.sparkContext.statusTracker()

    def count(fn):
        before = set(tracker.getJobIdsForGroup(None))
        result = fn()
        return result, len(set(tracker.getJobIdsForGroup(None)) - before)

    return count


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT
