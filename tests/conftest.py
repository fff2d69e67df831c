from __future__ import annotations

import itertools
import os
import sys
from contextlib import contextmanager

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from vectolite_spark.session import get_spark

    s = get_spark("vectolite-tests", cpus=4)
    s.sparkContext.setLogLevel("WARN")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_JOB_GROUPS = itertools.count()


@pytest.fixture()
def count_jobs(spark):
    """``with count_jobs() as jobs:`` fills ``jobs`` with the ids of the
    Spark jobs the block submitted from this thread, once it exits. The
    block runs under a fresh job group (only ``spark.jobGroup.id`` is
    set, so the jobs keep the descriptions the engine gives them), and
    the ids come from ``statusTracker`` after the listener bus drains."""
    sc = spark.sparkContext
    key = "spark.jobGroup.id"

    @contextmanager
    def counting():
        group = f"count-jobs-{next(_JOB_GROUPS)}"
        prev = sc.getLocalProperty(key)
        jobs: list[int] = []
        sc.setLocalProperty(key, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty(key, prev)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))

    return counting


@pytest.fixture()
def job_description(spark):
    """``job_description(job_id)``: the ``spark.job.description`` the job
    was submitted under (None if unset), from the JVM status store."""
    status = spark.sparkContext._jsc.sc().statusStore()

    def describe(job_id: int) -> str | None:
        desc = status.job(job_id).description()
        return desc.get() if desc.isDefined() else None

    return describe
