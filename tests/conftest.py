from __future__ import annotations

import json
import pathlib

import pytest

VECTORS_PATH = pathlib.Path(__file__).parent / "vectors.json"


@pytest.fixture(scope="session")
def vectors() -> dict:
    return json.loads(VECTORS_PATH.read_text())


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession for the whole test run (JVM start ~10s)."""
    from simhash_spark.session import get_spark

    s = get_spark(parallelism=4, app_name="simhash-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)``: the number of Spark jobs ``fn()`` starts,
    counted through a job group."""
    import uuid

    def count(fn) -> int:
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
