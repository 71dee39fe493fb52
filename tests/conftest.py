import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgx import synth  # noqa: E402

FIXDIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "fixtures")


@pytest.fixture(scope="session")
def t1_dir() -> str:
    d = os.path.join(FIXDIR, "t1")
    if not os.path.exists(os.path.join(d, "meta.json")):
        synth.generate(d, "t1")
    return d


@pytest.fixture(scope="session")
def t2_dir() -> str:
    d = os.path.join(FIXDIR, "t2")
    if not os.path.exists(os.path.join(d, "meta.json")):
        synth.generate(d, "t2")
    return d


@pytest.fixture(scope="session")
def spark():
    from kgx.spark.session import get_spark

    s = get_spark("kgx-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """`spark_jobs(fn)` calls fn and returns the ids of the Spark jobs
    it ran (a fresh job group per call, read from the status
    tracker)."""
    import uuid

    sc = spark.sparkContext

    def run(fn) -> list[int]:
        group = f"counted-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs counted by a test")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    return run
