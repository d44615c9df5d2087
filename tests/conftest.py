from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_spark.session import get_session  # noqa: E402


def _default_driver_mem() -> None:
    """Size the suite's one JVM from the host when no size is set: half
    of physical memory, capped at the session's 32g default. A 32g heap
    on a 16 GB host grows until the kernel OOM-kills it part way through
    the suite."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return  # not Linux: keep the session default
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(kb // 2048, 32 * 1024)}m"


_default_driver_mem()

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
