from __future__ import annotations

import sys
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from kinesis_data_counter_spark.session import get_spark

    s = get_spark(app_name="kdc-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"



@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` → (ids of the Spark jobs fn() launched, its result).

    Job ids are allocated sequentially, so the jobs of fn() are the ids
    strictly between two marker jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def mark(tag):
        sc.setJobGroup(tag, tag)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(tag):
            assert time.time() < deadline, f"marker {tag} never reported"
            time.sleep(0.01)
        return tracker.getJobIdsForGroup(tag)[0]

    def run(fn):
        lo = mark(f"jobs-before-{id(fn)}")
        out = fn()
        hi = mark(f"jobs-after-{id(fn)}")
        return range(lo + 1, hi), out

    return run
