"""Regression gate for driver-side fixture regenerations.

The fixture schemas are declared once, in ``schema.FIXTURE_SCHEMAS``, and
every fixture read (``sources/testdata.load_table`` and the streaming twin
``queries._events_stream``) declares them instead of inferring them from
the Parquet footers, so a load runs no Spark job.  A regeneration that
changes a column must update ``FIXTURE_SCHEMAS``: the drift test here
compares the declaration with what Spark infers from every fixture dir
present and names the table and the column that moved.  The ``events.ts``
normalization lives in one place (``sources/testdata.normalize_events_ts``)
and is checked here too, so a new timestamp encoding fails loudly here
instead of in 17 scattered queries.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import TimestampType

from syslog_handler_with_clickhouse_spark.queries import _events_stream
from syslog_handler_with_clickhouse_spark.schema import FIXTURE_SCHEMAS, TESTDATA_TABLES
from syslog_handler_with_clickhouse_spark.sources.testdata import (
    load_table,
    load_tables,
    normalize_events_ts,
)

SF_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]
BENCH_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "fixtures", "sf0.01",
)
FIXTURE_DIRS = SF_DIRS + ([BENCH_FIXTURES] if os.path.isdir(BENCH_FIXTURES) else [])


def _describe(field) -> str:
    if field is None:
        return "absent"
    return f"{field.dataType.simpleString()} (nullable={field.nullable})"


@pytest.mark.parametrize("table", TESTDATA_TABLES)
@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS)
def test_declared_schema_matches_footers(spark, sf_dir, table):
    declared = FIXTURE_SCHEMAS[table]
    footer = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).schema
    for col in dict.fromkeys(declared.names + footer.names):
        d = declared[col] if col in declared.names else None
        f = footer[col] if col in footer.names else None
        assert d == f, (
            f"{sf_dir}: table {table!r} column {col!r} is declared {_describe(d)}, "
            f"the footer has {_describe(f)}; update schema.FIXTURE_SCHEMAS"
        )
    assert declared.names == footer.names, (
        f"{sf_dir}: table {table!r} column order drifted: declared "
        f"{declared.names}, footer {footer.names}; update schema.FIXTURE_SCHEMAS"
    )


@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS)
def test_fixture_loads_run_no_jobs(spark, count_jobs, sf_dir):
    def load_all():
        load_tables(spark, sf_dir)
        _events_stream(spark, sf_dir)

    assert count_jobs(load_all) == 0


def test_fixture_loads_leave_session_conf_unchanged(spark):
    sf_dir = FIXTURE_DIRS[0]
    load_table(spark, sf_dir, "events")
    _events_stream(spark, sf_dir)
    before = spark.conf.getAll
    for i in range(10):
        load_table(spark, sf_dir, TESTDATA_TABLES[i % len(TESTDATA_TABLES)])
        _events_stream(spark, sf_dir)
    assert spark.conf.getAll == before


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_is_session_tz_timestamp(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), (
        f"{sf_dir}/events.parquet: ts surfaced as {df.schema['ts'].dataType}; "
        "extend normalize_events_ts for this fixture generation"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_stream_ts_is_session_tz_timestamp(spark, sf_dir):
    # The streaming twin of the batch loader — the round-3 regression hit
    # exactly the path the batch fix missed.
    df = _events_stream(spark, sf_dir)
    assert df.isStreaming
    assert isinstance(df.schema["ts"].dataType, TimestampType)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_normalize_is_idempotent(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    again = normalize_events_ts(df)
    assert again.schema == df.schema
