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
