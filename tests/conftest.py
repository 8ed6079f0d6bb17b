from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "sweep: full-registry oracle-parity sweep; scale factor is "
        "selected by SPARK_GRAFT_TEST_SF_DIR (COVERAGE.md documents the "
        "3-scale invocation: run `pytest -m sweep` once per "
        "/root/testdata/sf{0.001,0.01,0.1})",
    )


@pytest.fixture(scope="session")
def spark():
    from syslog_handler_with_clickhouse_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("syslog-spark-tests")
    yield spark


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: the Spark jobs run by ``fn()``, counted through
    a job group on the session's status tracker."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"pin-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()
