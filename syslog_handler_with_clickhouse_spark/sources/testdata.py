"""Loaders for the driver-generated fixture tables (TESTDATA.md).

Batch scans of columnar parquet — the Spark analogue of querying the
ClickHouse table the reference feeds (`lib/cacheManage.go:40`).  Each
table is read with its schema declared from ``schema.FIXTURE_SCHEMAS``, so
a load runs no footer-inference job; predicate pushdown and column pruning
stay available to every downstream query.  A fixture regeneration must
update ``FIXTURE_SCHEMAS``; ``tests/test_fixture_schema.py`` fails on drift.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schema import FIXTURE_SCHEMAS, TESTDATA_TABLES
from ..session import apply_runtime_conf

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Cast the ``ts`` column of an events scan to session-TZ TimestampType.

    The fixture stores ``ts`` as TIMESTAMP(MICROS) with no TZ annotation,
    which surfaces as TIMESTAMP_NTZ; ltz-only functions
    (``unix_millis``/``unix_micros``) and streaming watermarks reject it.
    The session TZ is pinned UTC (``apply_runtime_conf``), so wall-clock
    values and every downstream ``date_format``/oracle hash are unchanged.
    An already-TimestampType ``ts`` is left as is.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema["ts"].dataType, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in FIXTURE_SCHEMAS:
        raise KeyError(f"unknown fixture table {name!r}; one of {TESTDATA_TABLES}")
    apply_runtime_conf(spark)  # UTC session time for oracle parity
    df = spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )
    return normalize_events_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}
