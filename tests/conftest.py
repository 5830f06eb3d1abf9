from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", "4")
    from cicevse2024_tfm_datapipeline_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        path = os.path.join(SF_SMOKE, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def construction_jobs(spark, build) -> int:
    """Spark jobs that run while ``build()`` constructs a frame — counted
    under a job group set before, and cleared after, the call; no action
    is taken on the returned frame."""
    import uuid

    sc = spark.sparkContext
    # a fresh group per call: the tracker keeps every job a group ever ran
    group = f"construction-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "frame construction only")
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
