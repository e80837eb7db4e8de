"""Shared fixtures: one session-scoped SparkSession for all tests."""

from __future__ import annotations

import os

import pytest

from space_launch_telemetry_analyzer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# One driver JVM serves the whole suite. Under get_spark's 24g default,
# ParallelGC grows its heap to ~12 GB over a full run, which with the Python
# workers and the second JVM that test_spark_submit starts leaves a 16 GB
# host under 1 GB free; 4g bounds it. Set SPARK_GRAFT_DRIVER_MEM to override.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sla-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
