from __future__ import annotations

import os
import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from seo_audit_etl_actor_spark.session import get_spark

    spark = get_spark("seo-audit-etl-actor-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture
def jobs_of(spark):
    """`jobs_of(fn)` → (fn(), the ids of the jobs fn ran in a job group of
    its own, the ids of jobs that started with no group meanwhile)."""

    def run(fn):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = f"jobs_of-{uuid.uuid4().hex}"
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads listener events
        return (
            result,
            list(tracker.getJobIdsForGroup(group)),
            set(tracker.getJobIdsForGroup(None)) - ungrouped,
        )

    return run
