from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest

from copenhagen_traffic_and_weather_etl_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s


class SparkJobs:
    """Counts Spark jobs by job group: ``with spark_jobs() as ids:``
    collects the ids of the jobs this thread runs in the block, and
    ``spark_jobs.in_group(group)`` lists the jobs of any group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext

    def in_group(self, group: str) -> list[int]:
        # Job starts reach the status store through the listener bus.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def __call__(self):
        group = f"jobs-{uuid.uuid4().hex}"
        self._sc.setJobGroup(group, group)
        ids: list[int] = []
        try:
            yield ids
        finally:
            self._sc._jsc.clearJobGroup()
            ids.extend(self.in_group(group))


@pytest.fixture
def spark_jobs(spark):
    return SparkJobs(spark)
