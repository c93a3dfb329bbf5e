from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from cardano_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s
    # stop the JVM explicitly so the interpreter exits promptly and
    # the pytest summary line lands in piped logs within seconds of
    # [100%] (r8 VERDICT finding #1: without this the process can
    # sit in subprocess-wait at teardown)
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from cardano_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    yield con


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), Spark jobs fn ran)``, counted by job
    group. The status store is fed asynchronously, in event order, so
    a sentinel job in a second group is awaited first: once it shows,
    every job ``fn`` ran has been recorded."""
    import time
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"counted-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            result = fn()
        finally:
            sc.setJobGroup(f"{group}-sentinel", "sentinel")
            sc.parallelize([0], 1).count()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(f"{group}-sentinel"):
            assert time.time() < deadline, "sentinel job never recorded"
            time.sleep(0.05)
        return result, len(tracker.getJobIdsForGroup(group))

    return run
