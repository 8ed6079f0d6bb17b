"""Sinks: the at-rest log store.

Reference: batched ClickHouse INSERT into `mikrotik_logs`
(`lib/cacheManage.go:35-65`, 10 s deadline, at-most-once).  Spark-first
re-expression: date-partitioned Parquet appends — columnar at rest,
partition-pruned on Timestamp date, exactly-once under streaming
checkpointing (a documented upgrade over the reference's drop-on-error,
`lib/cacheManage.go:60-62`).

An optional JDBC path mirrors the ClickHouse target when a server exists
(`write_logs_jdbc`); no ClickHouse server exists in this environment, so
the writer path is exercised end-to-end against embedded Derby (on the
Spark classpath) in tests/test_jdbc_sink.py with the reference's pool /
deadline / batch settings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import LOG_SCHEMA

LOGS_PARTITION_COL = "log_date"


def write_logs_batch(df: DataFrame, path: str, mode: str = "append") -> None:
    """Date-partitioned Parquet append of a logs-schema DataFrame.

    Partitioning by to_date(Timestamp) gives partition pruning for the
    time-range queries the store exists to serve (SURVEY §1.2); at 100 TB
    this is the difference between scanning a day and scanning the fleet's
    history.
    """
    (
        df.withColumn(LOGS_PARTITION_COL, F.to_date("Timestamp"))
        # Sort by Timestamp inside each task so parquet row-group min/max
        # statistics are tight: a time-range predicate then skips whole row
        # groups, not just partitions — the intra-day analogue of partition
        # pruning (ClickHouse gets this from the MergeTree ORDER BY).
        .sortWithinPartitions(LOGS_PARTITION_COL, "Timestamp")
        .write.mode(mode)
        .partitionBy(LOGS_PARTITION_COL)
        .parquet(path)
    )


def read_logs(spark, path: str) -> DataFrame:
    """Read a ``write_logs_batch`` store with ``LOG_SCHEMA`` declared (no
    footer-inference job); ``log_date`` is still discovered from the
    partition paths, and dropped."""
    return spark.read.schema(LOG_SCHEMA).parquet(path).drop(LOGS_PARTITION_COL)


def compact_parquet(
    spark,
    path: str,
    target_bytes: int = 128 << 20,
    partition_col: str | None = None,
) -> int:
    """Small-file compaction for a streaming-fed Parquet store.

    Micro-batch appends (2 s trigger, `main.go:20` cadence) produce one
    file per batch per partition; after a day that is thousands of tiny
    files and scan planning dominates query time.  Rewrite the store into
    max(1, ceil(total_bytes / target_bytes)) files (per partition value
    when `partition_col` is given, mirroring ClickHouse's background
    merges of MergeTree parts) and swap directories.  The swap is
    rename-based: readers racing the swap should retry — acceptable for a
    maintenance window; a table format (Delta/Iceberg) makes it atomic.

    Returns the target file count.
    """
    import math
    import os
    import shutil

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compacting"
    writer = df.repartition(n).write.mode("overwrite")
    if partition_col is not None:
        writer = df.repartition(n, partition_col).write.mode("overwrite").partitionBy(
            partition_col
        )
    writer.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n


def upsert_parquet(
    spark,
    path: str,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
) -> None:
    """Keyed upsert into a Parquet store — the ClickHouse
    ReplacingMergeTree semantics (latest version per key wins) as an
    explicit merge: union current + updates, keep row_number()==1 per key
    ordered by version DESC, rewrite, swap.  One shuffle on the key.

    Plain Parquet has no MERGE, so the rewrite is whole-store (per
    partition directory at scale — pair with date partitioning so a day's
    late updates rewrite one partition, not the fleet's history; a table
    format makes it transactional).
    """
    import os
    import shutil

    from pyspark.sql import Window

    cur = spark.read.parquet(path)
    merged = cur.unionByName(updates)
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    tmp = path.rstrip("/") + ".upserting"
    latest.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def expire_partitions(path: str, partition_col: str, before: str) -> int:
    """TTL enforcement for a date-partitioned store (the ClickHouse
    `TTL Timestamp + INTERVAL n DAY` analogue): drop whole partition
    directories older than ``before`` (``YYYY-MM-DD``).

    Partition-level deletes are O(#expired-partitions) directory removals
    — no data rewrite, no scan — which is exactly why the store is
    date-partitioned (SURVEY §1.2).  Returns the number of partitions
    removed.
    """
    import os
    import shutil

    removed = 0
    if not os.path.isdir(path):
        return 0
    prefix = f"{partition_col}="
    for entry in sorted(os.listdir(path)):
        if entry.startswith(prefix) and entry[len(prefix):] < before:
            shutil.rmtree(os.path.join(path, entry))
            removed += 1
    return removed


# Characters Hive/Spark URL-escape in partition directory names
# (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName):
# control chars plus the filesystem/glob/URI metacharacters below.
_PART_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def _rename_exchange(a: str, b: str) -> bool:
    """Atomically EXCHANGE directories ``a`` and ``b`` via Linux
    ``renameat2(..., RENAME_EXCHANGE)`` (glibc ≥ 2.28, same filesystem).
    Returns False when unavailable so callers can fall back.

    Transient failures (EINTR/EAGAIN/EBUSY — seen once under a fully
    loaded box) retry briefly before giving up: a spurious False here
    silently downgrades the caller to the two-rename fallback, whose
    not-found window is exactly what the atomic path exists to
    close."""
    import ctypes
    import errno as _errno
    import os
    import time as _time

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        at_fdcwd = -100
        rename_exchange = 2
        for attempt in range(4):
            ctypes.set_errno(0)
            ret = libc.renameat2(
                at_fdcwd,
                os.fsencode(a),
                at_fdcwd,
                os.fsencode(b),
                rename_exchange,
            )
            if ret == 0:
                return True
            err = ctypes.get_errno()
            if err not in (_errno.EINTR, _errno.EAGAIN, _errno.EBUSY):
                return False
            _time.sleep(0.01 * (attempt + 1))
        return False
    except Exception:
        return False


def _atomic_swap_dir(new_dir: str, path: str) -> None:
    """Replace directory ``path`` with ``new_dir`` such that a reader
    listing ``path`` never observes it absent.

    Preferred path: ``renameat2(RENAME_EXCHANGE)`` — a single atomic
    syscall swaps the two directories, so ``path`` always names a
    complete table (old right up to the instant, new right after).
    Fallback (non-Linux / cross-filesystem): two back-to-back renames,
    whose not-found window is two metadata ops — still far safer than
    the old rmtree-then-rename, whose window was the full recursive
    delete of the table."""
    import os
    import shutil
    import uuid as _uuid

    if _rename_exchange(new_dir, path):
        shutil.rmtree(new_dir)  # now holds the displaced old data
        return
    old = path.rstrip("/") + f".old.{_uuid.uuid4().hex}"
    os.rename(path, old)
    os.rename(new_dir, path)
    shutil.rmtree(old)


def _escape_partition_value(val) -> str:
    """Replicate Spark's partition-path escaping so the driver-side renames
    in :func:`_swap_partitions` always name the same directory the
    ``partitionBy`` writer produced — a string value containing ``/`` or
    ``=`` must not walk into (or miss) a different directory."""
    if val is None:
        return "__HIVE_DEFAULT_PARTITION__"
    s = str(val)
    if s == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(f"%{ord(c):02X}" if c in _PART_ESCAPE else c for c in s)


def _swap_partitions(staging: str, path: str, partition_col: str, values) -> None:
    """Swap the affected partition directories of ``path`` with the ones a
    single-job rewrite produced under ``staging``.  Renames only — no data
    movement.  A value with no staging directory means the rewrite emitted
    zero rows for it (e.g. a whole-partition delete): the partition is
    simply dropped."""
    import os
    import shutil

    for val in values:
        part = f"{partition_col}={_escape_partition_value(val)}"
        dst = os.path.join(path, part)
        src = os.path.join(staging, part)
        if os.path.isdir(src):
            # atomic exchange where the platform allows — a reader listing
            # this partition never sees it absent
            _atomic_swap_dir(src, dst)
        else:
            # rewrite emitted zero rows for this value → drop the partition
            shutil.rmtree(dst)
    shutil.rmtree(staging)


def delete_rows(
    spark,
    path: str,
    condition,
    partition_col: str | None = None,
) -> int:
    """Targeted row deletion — the ClickHouse ``ALTER TABLE ... DELETE
    WHERE`` mutation (and the GDPR-erasure primitive) for a Parquet store.

    Plain Parquet is immutable, so deletion is a rewrite — but only of the
    partitions that actually contain matching rows.  With ``partition_col``
    given, a first cheap scan projects just the partition values of
    matching rows (predicate pushdown + column pruning make this a
    metadata-light pass), then ONE Spark job rewrites every affected
    partition at once (partition-pruned read → filter → partitionBy write
    to a staging root) and the affected directories are swapped with
    driver-side renames; untouched partitions keep their files
    byte-for-byte.  At 100 TB with date partitioning, erasing one user's
    data rewrites only the days that user appears in — and the job count
    stays O(1) no matter how many days that is.

    Returns the number of rows deleted.  A table format (Delta/Iceberg)
    would make the same operation transactional deletion-vector writes.
    """
    import os
    import shutil

    # SQL DELETE semantics: a NULL predicate means KEEP the row.  Coalesce
    # once and use the same expression for both the delete marker and the
    # keep filter — otherwise `filter(_del == 0)` would drop NULL-condition
    # rows (NULL == 0 is not true) while the observed SUM skipped them,
    # under-reporting deletions exactly where it matters (GDPR accounting).
    condition = F.coalesce(condition, F.lit(False))

    if partition_col is None:
        from pyspark.sql import Observation

        cur = spark.read.parquet(path)
        # cheap matching probe (pushdown + early exit) so a no-op delete
        # never rewrites the table
        if cur.filter(condition).limit(1).count() == 0:
            return 0
        # ONE scan: observe the match count on the same pass that writes
        # the surviving rows (the old code read the source twice)
        obs = Observation("delete_rows")
        marked = cur.withColumn("_del", condition.cast("int"))
        keep = (
            marked.observe(obs, F.sum("_del").alias("n_del"))
            .filter(F.col("_del") == 0)
            .drop("_del")
        )
        tmp = path.rstrip("/") + ".deleting"
        keep.write.mode("overwrite").parquet(tmp)
        _atomic_swap_dir(tmp, path)
        return int(obs.get["n_del"] or 0)

    cur = spark.read.parquet(path)
    # ONE job finds affected partitions AND per-partition delete counts
    # (vs a count per partition: 2 jobs per partition → 1 + 1 per partition)
    per_part = {
        r[0]: r[1]
        for r in cur.filter(condition)
        .groupBy(partition_col)
        .count()
        .collect()
    }
    if not per_part:
        return 0
    # ONE rewrite job covering every affected partition (dynamic-partition-
    # overwrite shape): filter the store to the affected partition values
    # (partition pruning makes this scan only those directories), drop the
    # matches, and write all surviving rows partitionBy(partition_col) into
    # a staging root in a single Spark job.  The per-partition work is then
    # just driver-side directory renames — filesystem metadata ops, not
    # jobs — so 10 000 affected date partitions at 100 TB cost one job +
    # 10 000 renames instead of 10 000 serialized Spark jobs.  (A literal
    # ``mode("overwrite")`` back into `path` would trip Spark's
    # cannot-overwrite-a-path-being-read-from check, and staging + rename
    # also preserves untouched-partition file identity byte-for-byte.)
    affected = list(per_part)
    keep = cur.filter(F.col(partition_col).isin(affected)).filter(~condition)
    staging = path.rstrip("/") + ".deleting"
    keep.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    _swap_partitions(staging, path, partition_col, affected)
    return sum(per_part.values())


def update_rows(
    spark,
    path: str,
    condition,
    assignments: dict,
    partition_col: str | None = None,
) -> int:
    """``ALTER TABLE ... UPDATE col = expr WHERE cond`` — the mutation
    twin of :func:`delete_rows`.  ``assignments`` maps column name →
    Column expression applied only to matching rows (non-matching rows
    pass through unchanged).  Same partition-targeting: only partitions
    containing matches are rewritten.  Returns rows updated."""
    import os
    import shutil

    def _apply(df):
        out = df
        for col, expr in assignments.items():
            out = out.withColumn(col, F.when(condition, expr).otherwise(F.col(col)))
        return out

    cur = spark.read.parquet(path)
    if partition_col is None:
        from pyspark.sql import Observation

        if cur.filter(condition).limit(1).count() == 0:
            return 0
        # ONE rewrite scan with the update count observed on the same pass.
        # The marker is computed BEFORE assignments — observing the raw
        # condition post-update would miss rows whose update falsifies it.
        obs = Observation("update_rows")
        marked = cur.withColumn("_upd", condition.cast("int"))
        out = (
            _apply(marked)
            .observe(obs, F.sum("_upd").alias("n_upd"))
            .drop("_upd")
        )
        tmp = path.rstrip("/") + ".updating"
        out.write.mode("overwrite").parquet(tmp)
        _atomic_swap_dir(tmp, path)
        return int(obs.get["n_upd"] or 0)

    per_part = {
        r[0]: r[1]
        for r in cur.filter(condition)
        .groupBy(partition_col)
        .count()
        .collect()
    }
    if not per_part:
        return 0
    # Same single-job dynamic-overwrite shape as delete_rows: one write
    # covering all affected partitions, then driver-side renames.
    affected = list(per_part)
    new = _apply(cur.filter(F.col(partition_col).isin(affected)))
    staging = path.rstrip("/") + ".updating"
    new.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    _swap_partitions(staging, path, partition_col, affected)
    return sum(per_part.values())


def jdbc_sink_options(url: str, table: str, user: str, password: str) -> dict[str, str]:
    """ClickHouse-over-JDBC options mirroring the reference's connection
    settings: pool of 5 (`main.go:48-51`) → numPartitions; 10 s insert
    deadline (`lib/cacheManage.go:37`) → queryTimeout."""
    return {
        "url": url,
        "dbtable": table,
        "user": user,
        "password": password,
        "numPartitions": "5",
        "queryTimeout": "10",
        "batchsize": "1000",  # CacheSize, `main.go:19`
    }


def write_logs_jdbc(
    df: DataFrame, options: dict[str, str], mode: str = "append"
) -> None:
    """Batched JDBC INSERT — the reference's actual sink path
    (`lib/cacheManage.go:35-65`): each of numPartitions partitions opens
    one connection (the pool of 5, `main.go:48-51`) and inserts in
    ``batchsize`` chunks under ``queryTimeout``.  Spark's JDBC writer
    retries failed TASKS, upgrading the reference's drop-batch-on-error
    to at-least-once; pair with a unique key + dedup-on-read (or a
    ClickHouse ReplacingMergeTree target) for effective exactly-once."""
    df.write.format("jdbc").options(**options).mode(mode).save()


def read_logs_jdbc(spark, options: dict[str, str]) -> DataFrame:
    """Read back a JDBC-stored logs table (round-trip twin of
    :func:`write_logs_jdbc`)."""
    return spark.read.format("jdbc").options(**options).load()
