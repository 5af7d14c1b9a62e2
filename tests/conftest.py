from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from core_telecoms_etl_spark import get_spark

    spark = get_spark("tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def jobs_started(spark):
    """`jobs_started(fn)` is the number of Spark jobs `fn()` starts,
    counted through a dedicated job group on the status tracker."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-started-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
