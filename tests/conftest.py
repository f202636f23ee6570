from __future__ import annotations

import os

import pytest

from graphiti_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    s = get_spark(app_name="graphiti_spark_tests", cpus=cpus, shuffle_partitions=8)
    yield s


def n_cached_plans(spark) -> int:
    """Entry count of the session's CacheManager (every
    DataFrame.cache/persist registers one). The JVM keeps the list
    private, so it is read by reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()
