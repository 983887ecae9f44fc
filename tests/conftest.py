from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rat_strain_loader_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("rat-strain-loader-pipeline-spark-tests", master="local[4]")
    s.sparkContext.setLogLevel("WARN")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn, *args, **kwargs)`` -> ``(fn's result, the number
    of Spark jobs fn ran)``, counted through a job group of its own."""
    sc = spark.sparkContext

    def run(fn, *args, **kwargs):
        group = f"count-jobs-{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(group, "counted call")
        try:
            out = fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
