from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from clickhouse_k_means_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@contextmanager
def _job_ids(sc, group: str):
    """Collect the ids of every Spark job started inside the block."""
    old = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", old)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
