from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from billing_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="bdp-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` -> ``(fn(), n)``: ``n`` is the number of Spark
    jobs ``fn`` launched, counted through a job group and the status
    tracker. A marker job in a second group follows ``fn``; the listener
    handles events in order, so once the tracker lists the marker it lists
    every job of ``fn``."""
    import time
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"counted-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            out = fn()
        finally:
            sc.setJobGroup(f"{group}-marker", "marker")
            sc.parallelize([0], 1).count()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(f"{group}-marker"):
            assert time.monotonic() < deadline, "the marker job never showed"
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(group))

    return count
