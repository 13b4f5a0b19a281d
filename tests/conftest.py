from __future__ import annotations

import os
import sys
import uuid

import pytest

# the checkout these tests belong to, whichever directory it is in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opengemini_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)``: ``fn()``'s result and the ids of every Spark job
    it ran. ``fn`` runs under a fresh job group, between two marker jobs
    of that group; the ids are the span between them, so the jobs a query
    runs under its own group count too."""
    sc = spark.sparkContext
    props = (
        "spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel",
    )

    def marker(group: str) -> int:
        spark.range(1).collect()
        return max(sc.statusTracker().getJobIdsForGroup(group))

    def run(fn):
        saved = [sc.getLocalProperty(k) for k in props]
        group = f"test-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "")
        try:
            first = marker(group)
            out = fn()
            assert sc.getLocalProperty("spark.jobGroup.id") == group, (
                "fn left its thread in another job group"
            )
            last = marker(group)
        finally:
            for k, v in zip(props, saved):
                sc.setLocalProperty(k, v)
        return out, list(range(first + 1, last))

    return run
