"""SparkSession factory tuned for the engine.

The reference has no engine configuration beyond micro-batch constants
(`main.go:19-21`); everything here is Spark-side scale posture: AQE on,
bounded shuffle partitions for the local harness, Arrow for any
pandas-exchange path, UTC session time so timestamp semantics are stable
across engines (the DuckDB oracle is timezone-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs we also (re-)apply to externally provided sessions
# (the correctness driver passes us its own SparkSession).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the store-state tables (dedup/BM25/IVF-PQ maintenance) are
    # written bucketBy + sortBy; with this on, a bucket holding ONE
    # file (post-bootstrap or post-compact) scans as already-sorted
    # and the insert-path SMJ drops the stored-side sort — measured at
    # the 10 M-doc point (round 15): per-insert disk spill 913 MB -> 0,
    # wall 45-70 s -> 38 s.  Buckets with multiple append files are
    # still (correctly) re-sorted, so the flag is safe for every other
    # bucketed read.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # INT64 timestamps carry footer min/max (INT96 has none), which the
    # snapshot store's per-file bounds are read from.  Only the session
    # conf takes effect; a DataFrameWriter option does not.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "syslog-spark-engine") -> SparkSession:
    """Build (or fetch) the session used by tests and bench.

    local[N] here; on a real cluster the same confs apply — shuffle
    partition count would instead be sized to executors (or left to AQE
    with ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI on by default: its REST status API is how the skew-resilience
        # test and scripts/skew_bench.py read per-task shuffle metrics
        # (max-task vs median-task input).  SPARK_GRAFT_UI=false restores
        # the headless profile; the port auto-increments if 4040 is taken.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "true"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime-settable confs to an existing session.

    Used when the driver hands us its own session: session timezone MUST be
    UTC for parity with the timezone-naive DuckDB oracle.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — leave as-is
    return spark
