"""Manifest snapshot store: atomic publish, snapshot isolation, time
travel, transactional rewrite, vacuum, footer-derived file bounds and the
recorded schema."""

from __future__ import annotations

import glob
import math
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from syslog_handler_with_clickhouse_spark.sources.snapshots import (
    latest_version,
    read_snapshot,
    rewrite_snapshot,
    vacuum,
    write_snapshot,
)


def test_append_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "snap")
    df1 = spark.range(0, 10).withColumnRenamed("id", "x")
    df2 = spark.range(10, 15).withColumnRenamed("id", "x")

    assert write_snapshot(df1, path) == 1
    assert write_snapshot(df2, path) == 2
    assert latest_version(path) == 2

    assert read_snapshot(spark, path).count() == 15  # latest
    assert read_snapshot(spark, path, version=1).count() == 10  # time travel


def test_reader_isolated_from_concurrent_commit(spark, tmp_path):
    path = str(tmp_path / "iso")
    write_snapshot(spark.range(0, 100).withColumnRenamed("id", "x"), path)

    reader = read_snapshot(spark, path)  # resolves v1's file list NOW
    # a concurrent overwrite commits v2 while the reader is in flight
    write_snapshot(
        spark.range(0, 3).withColumnRenamed("id", "x"), path, mode="overwrite"
    )
    assert reader.count() == 100  # still sees v1, not a half state
    assert read_snapshot(spark, path).count() == 3  # new readers see v2


def test_transactional_rewrite_keeps_old_snapshot(spark, tmp_path):
    path = str(tmp_path / "rw")
    write_snapshot(spark.range(0, 20).withColumnRenamed("id", "x"), path)
    v2 = rewrite_snapshot(spark, path, lambda df: df.filter(F.col("x") % 2 == 0))
    assert v2 == 2
    assert read_snapshot(spark, path).count() == 10
    assert read_snapshot(spark, path, version=1).count() == 20


def test_vacuum_removes_dead_files(spark, tmp_path):
    path = str(tmp_path / "vac")
    write_snapshot(spark.range(0, 20).withColumnRenamed("id", "x"), path)
    rewrite_snapshot(spark, path, lambda df: df.filter(F.col("x") < 5))
    n_before = len(glob.glob(f"{path}/data/*.parquet"))
    removed = vacuum(path, keep_last=1)
    assert removed > 0
    assert len(glob.glob(f"{path}/data/*.parquet")) == n_before - removed
    assert read_snapshot(spark, path).count() == 5  # latest still intact


def test_manifest_stats_prune_files(spark, tmp_path):
    """Files whose [min,max] can't intersect the predicate are dropped
    from the read BEFORE Spark opens them."""
    path = str(tmp_path / "stats")
    # three disjoint ranges → three separate commits → ≥3 files
    for lo in (0, 100, 200):
        write_snapshot(
            spark.range(lo, lo + 50).withColumnRenamed("id", "x").coalesce(1),
            path,
            stat_cols=["x"],
        )
    full = read_snapshot(spark, path)
    pruned = read_snapshot(spark, path, prune=("x", 100, 149))
    assert full.count() == 150
    assert pruned.count() == 50  # only the middle file's rows
    # the pruned scan reads strictly fewer files
    n_full = len(full.inputFiles())
    n_pruned = len(pruned.inputFiles())
    assert n_pruned < n_full, (n_pruned, n_full)
    # everything-pruned edge: empty frame, schema intact
    none = read_snapshot(spark, path, prune=("x", 10_000, 20_000))
    assert none.count() == 0
    assert none.columns == ["x"]


def test_batch_id_makes_commit_idempotent(spark, tmp_path):
    """Replaying a foreachBatch delivery with the same batch_id must not
    duplicate rows — exactly-once into the snapshot store."""
    path = str(tmp_path / "eo")
    df = spark.range(0, 10).withColumnRenamed("id", "x")
    v1 = write_snapshot(df, path, batch_id=0)
    v_dup = write_snapshot(df, path, batch_id=0)  # retry of batch 0
    assert v_dup == v1  # no new snapshot
    assert read_snapshot(spark, path).count() == 10
    v2 = write_snapshot(df, path, batch_id=1)
    assert v2 == v1 + 1
    assert read_snapshot(spark, path).count() == 20


def test_bloom_prunes_files_and_preserves_results(spark, tmp_path):
    """Equality pruning via per-file blooms: uniformly-spread keys make
    min/max ranges useless (every file overlaps), but blooms prune — and
    never drop a file that actually holds the value."""
    from syslog_handler_with_clickhouse_spark.sources import snapshots as sn

    store = str(tmp_path / "bloomstore")
    # 4 appends = 4+ files; keys uniformly spread so ranges all overlap
    for part in range(4):
        df = spark.createDataFrame(
            [(part * 1000 + i * 7, f"k{part}_{i}") for i in range(200)],
            "id long, key string",
        ).coalesce(1)
        sn.write_snapshot(df, store, stat_cols=["id"], bloom_cols=["key"])

    target = "k2_55"
    full = sn.read_snapshot(spark, store)
    pruned = sn.read_snapshot(spark, store, bloom=("key", target))
    n_full = len(full.inputFiles())
    n_pruned = len(pruned.inputFiles())
    assert n_pruned < n_full, (n_pruned, n_full)
    # correctness: pruned read + real filter == full read + real filter
    from pyspark.sql import functions as F

    a = sorted(r.id for r in pruned.filter(F.col("key") == target).collect())
    b = sorted(r.id for r in full.filter(F.col("key") == target).collect())
    assert a == b and len(a) == 1

    # absent value: everything pruned (with overwhelming probability at
    # 200 keys/file vs 8192-bit k=6 blooms), empty result, schema kept
    gone = sn.read_snapshot(spark, store, bloom=("key", "no_such_key"))
    assert gone.count() == 0


def test_bloom_no_false_negative_exhaustive(spark, tmp_path):
    """EVERY present key must survive bloom pruning of its own file."""
    from syslog_handler_with_clickhouse_spark.sources import snapshots as sn

    keys = [f"user{i}" for i in range(300)]
    store = str(tmp_path / "bs2")
    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)],
                               "id long, key string").coalesce(1)
    sn.write_snapshot(df, store, bloom_cols=["key"])
    # round 13: the bitsets live in the Parquet stats manifest, not the
    # JSON pointer file — read the single row back relationally
    m = sn._read_manifest(store, sn.latest_version(store))
    srow = spark.read.parquet(
        *[f"{store}/_manifests/{sf}" for sf in m["stats_files"]]
    ).collect()[0]
    hexbits = srow.blooms["key"]
    for k in keys:
        assert sn._bloom_may_contain(hexbits, k), k


def test_vacuum_retention_guard_and_clear_error(spark, tmp_path):
    """vacuum refuses keep_last below min_versions_to_keep, and a
    time-travel read of a vacuumed-away version raises a clear error."""
    import pytest

    from syslog_handler_with_clickhouse_spark.sources import snapshots as sn

    path = str(tmp_path / "vac")
    for i in range(3):
        sn.write_snapshot(
            spark.createDataFrame([(i,)], "v long"), path, mode="append"
        )
    assert sn.latest_version(path) == 3

    with pytest.raises(ValueError, match="min_versions_to_keep"):
        sn.vacuum(path, keep_last=0)

    sn.vacuum(path, keep_last=1)
    # latest still reads fine
    assert sn.read_snapshot(spark, path).count() == 3
    # vacuumed-away version raises a clear, named error
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        sn.read_snapshot(spark, path, version=1)


def test_bloom_integral_column_no_false_negative(spark, tmp_path):
    """Bloom over a BIGINT key column must hash int values identically on
    the write (Spark job, pandas) and read (python int) sides — guards
    the pandas float64-for-nullable-int coercion trap."""
    from syslog_handler_with_clickhouse_spark.sources import snapshots as sn

    store = str(tmp_path / "bi")
    rows = [(i, i * 1000 + 7) for i in range(200)] + [(200, None)]
    df = spark.createDataFrame(rows, "id long, key long").coalesce(1)
    sn.write_snapshot(df, store, bloom_cols=["key"])
    m = sn._read_manifest(store, sn.latest_version(store))
    srow = spark.read.parquet(
        *[f"{store}/_manifests/{sf}" for sf in m["stats_files"]]
    ).collect()[0]
    hexbits = srow.blooms["key"]
    for i in range(200):
        assert sn._bloom_may_contain(hexbits, i * 1000 + 7), i
    # and the pruning read path agrees
    got = sn.read_snapshot(spark, store, bloom=("key", 42 * 1000 + 7))
    assert got.count() == 201  # file kept (value present)


def test_snapshot_diff_reads_only_changed_files(spark, tmp_path, count_jobs):
    """The CDC diff must (a) produce exactly the inserted/deleted rows
    and (b) prove the file-level skip: appending a slice leaves v1's
    files untouched, so diff(v1, v2) reads ONLY the new files.  Both
    sides are read with the manifests' recorded schema: building the
    diff runs no inference job, and its schema is the inferred one."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.sources.snapshots import (
        _data_dir,
        _read_manifest,
        snapshot_diff,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    df1 = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    df2 = spark.range(100, 130).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_snapshot(df1, path)
    write_snapshot(df2, path)
    m1 = {e["name"] for e in _read_manifest(path, 1)["files"]}
    m2 = {e["name"] for e in _read_manifest(path, 2)["files"]}
    assert m1 < m2  # append keeps v1 files — immutability
    feeds = []
    assert count_jobs(lambda: feeds.append(snapshot_diff(spark, path, 1, 2))) == 0
    feed = feeds[0]
    inferred = spark.read.parquet(*[f"{_data_dir(path)}/{n}" for n in sorted(m2 - m1)])
    assert feed.drop("_change_type").schema == inferred.schema
    rows = feed.collect()
    assert all(r._change_type == "insert" for r in rows)
    assert sorted(r.k for r in rows) == list(range(100, 130))


def test_snapshot_diff_rewrite_emits_delete_only_for_erased(spark, tmp_path):
    """A rewrite copies survivors into new files; the row-level
    exceptAll must trim them so only truly-erased rows appear as
    deletes (and nothing as insert)."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.sources.snapshots import (
        rewrite_snapshot,
        snapshot_diff,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    df = spark.range(0, 50).select(F.col("id").alias("k"))
    write_snapshot(df, path)
    rewrite_snapshot(spark, path, lambda d: d.filter(F.col("k") % 10 != 0))
    feed = snapshot_diff(spark, path, 1, 2).collect()
    assert all(r._change_type == "delete" for r in feed)
    assert sorted(r.k for r in feed) == [0, 10, 20, 30, 40]


def test_token_bloom_prunes_files_and_never_false_negatives(spark, tmp_path):
    """tokenbf_v1 analogue: per-file token blooms over a text column —
    a containment search for a word unique to one file must read FEWER
    files, and every word present anywhere must never be pruned away
    (write/read share the tokenizer + hash)."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.sources.snapshots import (
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "snap")
    # 4 files; file k carries the unique marker word zebraK
    for k in range(4):
        df = spark.createDataFrame(
            [(k * 100 + i, f"common words zebra{k} filler{i}")
             for i in range(50)],
            "id long, text string",
        ).coalesce(1)
        write_snapshot(df, path, token_bloom_cols=["text"])

    def files_read(**kw):
        d = read_snapshot(spark, path, **kw)
        return d.select(F.input_file_name().alias("f")).distinct().count(), d

    all_files, _ = files_read()
    assert all_files == 4
    hit_files, d = files_read(token=("text", "zebra2"))
    assert hit_files < 4
    got = d.filter(F.col("text").contains("zebra2")).count()
    assert got == 50
    # no false negatives: every marker + a common token
    for word in ["zebra0", "zebra1", "zebra2", "zebra3", "common"]:
        _, dw = files_read(token=("text", word))
        assert dw.filter(F.col("text").contains(word)).count() == 50 * (
            4 if word == "common" else 1
        ), word
    # tokenization is case/punct-insensitive on the probe side
    _, dq = files_read(token=("text", "  ZEBRA3!"))
    assert dq.filter(F.col("text").contains("zebra3")).count() == 50
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ONE"):
        read_snapshot(spark, path, token=("text", "two words"))


# ------------------------------------------------------- round 13 additions


def test_relational_prune_100k_files_synthetic(spark, tmp_path):
    """The stats manifest prunes 10⁵ files relationally: the driver
    receives only the losing names, never a stats entry or bitset.
    Files are synthetic (only the stats parquet exists) — this pins the
    prune decision itself at manifest scale."""
    import os

    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.sources import snapshots as sn

    store = str(tmp_path / "big")
    mdir = os.path.join(store, "_manifests")
    os.makedirs(mdir)
    n = 100_000
    # one row per fake file: file i covers x ∈ [10i, 10i+9]
    stats = spark.range(n).select(
        F.concat(F.lit("f"), F.col("id")).alias("name"),
        F.create_map(
            F.lit("x"), F.array(F.col("id") * 10, F.col("id") * 10 + 9)
        ).alias("stats_i"),
        F.lit(None).cast("map<string,array<double>>").alias("stats_d"),
        F.lit(None).cast("map<string,array<string>>").alias("stats_s"),
        F.lit(None).cast("map<string,string>").alias("blooms"),
        F.lit(None).cast("map<string,string>").alias("tblooms"),
    )
    stats.write.parquet(os.path.join(mdir, "stats_test"))
    excluded = sn._excludable_names(
        spark, store, ["stats_test"], prune=("x", 12_345, 12_360), bloom=None,
        token=None,
    )
    survivors = {f"f{i}" for i in range(n)} - excluded
    # ranges [12340..12349] (f1234) and [12350..12359] (f1235) and
    # [12360..12369] (f1236) intersect [12345, 12360]
    assert survivors == {"f1234", "f1235", "f1236"}
    assert len(excluded) == n - 3


def test_relational_prune_string_lane(spark, tmp_path):
    """min/max pruning on a STRING column goes through the stats_s lane."""
    from syslog_handler_with_clickhouse_spark.sources import snapshots as sn

    store = str(tmp_path / "slane")
    for names in (["alpha", "bravo"], ["mike", "november"], ["yankee", "zulu"]):
        sn.write_snapshot(
            spark.createDataFrame([(n,) for n in names], "name string")
            .coalesce(1),
            store,
            mode="append",
            stat_cols=["name"],
        )
    full = sn.read_snapshot(spark, store)
    pruned = sn.read_snapshot(spark, store, prune=("name", "m", "p"))
    assert full.count() == 6
    assert pruned.inputFiles() and len(pruned.inputFiles()) == 1
    assert {r.name for r in pruned.collect()} == {"mike", "november"}


def test_legacy_inline_manifest_still_prunes(spark, tmp_path):
    """Pre-round-13 manifests carry stats INLINE; the reader must keep
    honoring them (dict-walk fallback)."""
    import json
    import os

    from syslog_handler_with_clickhouse_spark.sources import snapshots as sn

    store = str(tmp_path / "legacy")
    for lo in (0, 100):
        sn.write_snapshot(
            spark.range(lo, lo + 50).withColumnRenamed("id", "x").coalesce(1),
            store,
            mode="append",
        )
    # rewrite the manifest to the legacy inline form
    v = sn.latest_version(store)
    mpath = os.path.join(store, "_manifests", f"v{v}.json")
    m = json.load(open(mpath))
    assert len(m["files"]) == 2
    by_name = sorted(m["files"], key=lambda e: e["name"])
    # recover which file holds which range from the data itself
    for e in m["files"]:
        df = spark.read.parquet(os.path.join(store, "data", e["name"]))
        row = df.agg({"x": "min"}).collect()[0]
        lo = row[0]
        e["stats"] = {"x": [lo, lo + 49]}
    m.pop("stats_files", None)
    json.dump(m, open(mpath, "w"))
    pruned = sn.read_snapshot(spark, store, prune=("x", 120, 130))
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 50


def test_vacuum_removes_orphan_stats_manifests(spark, tmp_path):
    """Vacuum drops stats parquet dirs referenced only by removed
    versions, keeps the live ones."""
    import os

    from syslog_handler_with_clickhouse_spark.sources import snapshots as sn

    store = str(tmp_path / "vacstats")
    for lo in (0, 100, 200):
        sn.write_snapshot(
            spark.range(lo, lo + 10).withColumnRenamed("id", "x").coalesce(1),
            store,
            mode="overwrite",
            stat_cols=["x"],
        )
    mdir = os.path.join(store, "_manifests")
    assert len([f for f in os.listdir(mdir) if f.startswith("stats_")]) == 3
    sn.vacuum(store, keep_last=1)
    left = [f for f in os.listdir(mdir) if f.startswith("stats_")]
    assert len(left) == 1
    # the survivor still prunes
    pruned = sn.read_snapshot(spark, store, prune=("x", 205, 206))
    assert pruned.count() == 10  # single live file overlaps


def test_snapshot_diff_rejects_reversed_range(spark, tmp_path):
    from syslog_handler_with_clickhouse_spark.sources.snapshots import (
        snapshot_diff,
        write_snapshot,
    )

    path = str(tmp_path / "snap")
    df = spark.createDataFrame([(1,)], "v int")
    write_snapshot(df, path)  # v1
    write_snapshot(df, path)  # v2
    with pytest.raises(ValueError, match="v_from < v_to"):
        snapshot_diff(spark, path, 2, 1)
    with pytest.raises(ValueError, match="v_from < v_to"):
        snapshot_diff(spark, path, 1, 1)


# ------------------------------------------- footer bounds, recorded schema

_T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)


def _log_rows(hour: int, n: int = 20) -> list[tuple]:
    return [
        (_T0 + timedelta(hours=hour, minutes=i), i % 8, f"h{hour} line {i}")
        for i in range(n)
    ]


_LOG_DDL = "Timestamp timestamp, Severity int, Message string"


def _stats_rows(spark, store):
    from syslog_handler_with_clickhouse_spark.sources import snapshots as sn

    m = sn._read_manifest(store, sn.latest_version(store))
    return spark.read.schema(sn._STATS_SCHEMA).parquet(
        *[f"{store}/_manifests/{s}" for s in m["stats_files"]]
    ).collect()


def test_timestamp_prune_keeps_one_file(spark, tmp_path):
    """Timestamp bounds come from the INT64 footers: three commits of
    disjoint hours, a prune inside one hour reads exactly that file and
    returns the same rows as the unpruned filter."""
    store = str(tmp_path / "ts")
    for hour in (0, 1, 2):
        write_snapshot(
            spark.createDataFrame(_log_rows(hour), _LOG_DDL).coalesce(1),
            store,
            stat_cols=["Timestamp"],
        )
    lo, hi = _T0 + timedelta(hours=1, minutes=5), _T0 + timedelta(hours=1, minutes=9)
    full = read_snapshot(spark, store)
    pruned = read_snapshot(spark, store, prune=("Timestamp", lo, hi))
    assert len(full.inputFiles()) == 3
    assert len(pruned.inputFiles()) == 1

    def rows(d):
        sel = d.filter(F.col("Timestamp").between(lo, hi))
        return sorted(sel.collect())

    assert rows(pruned) == rows(full) and len(rows(full)) == 5
    # naive datetimes convert the way Spark's literals do
    naive = read_snapshot(
        spark,
        store,
        prune=("Timestamp", datetime.fromtimestamp(lo.timestamp()),
               datetime.fromtimestamp(hi.timestamp())),
    )
    assert naive.inputFiles() == pruned.inputFiles()
    # timestamps and integers share the BIGINT stats lane: refuse the mix
    with pytest.raises(ValueError, match="'Timestamp'.*datetime"):
        read_snapshot(spark, store, prune=("Timestamp", 0, 10**18))
    with pytest.raises(ValueError, match="'Severity'.*numeric"):
        read_snapshot(spark, store, prune=("Severity", lo, hi))


def test_int96_timestamp_records_no_bound_and_is_kept(spark, tmp_path):
    """A file written as INT96 (a session without the INT64 conf) has no
    footer min/max: it records no bound, and every prune keeps it."""
    store = str(tmp_path / "int96")
    legacy = spark.newSession()
    legacy.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    write_snapshot(
        legacy.createDataFrame(_log_rows(0), _LOG_DDL).coalesce(1),
        store,
        stat_cols=["Timestamp"],
    )
    write_snapshot(
        spark.createDataFrame(_log_rows(5), _LOG_DDL).coalesce(1),
        store,
        stat_cols=["Timestamp"],
    )
    recorded = [r.stats_i.get("Timestamp") for r in _stats_rows(spark, store)]
    assert sorted(b is None for b in recorded) == [False, True]
    far = (_T0 + timedelta(days=9), _T0 + timedelta(days=10))
    pruned = read_snapshot(spark, store, prune=("Timestamp", *far))
    assert len(pruned.inputFiles()) == 1  # the INT96 file: must-read
    assert pruned.filter(F.col("Timestamp").between(*far)).count() == 0


_BIG = "x" * 5000  # over parquet-mr's 4 KiB binary stats limit
_NAN = float("nan")


@pytest.mark.parametrize(
    "ddl, values, expect",
    [
        ("bigint", [5, -(2**62), None, 2**62 + 1], "exact"),
        ("int", [None, 7, 3], "exact"),
        ("double", [1.5, None, -2.0, 0.0], "exact"),
        ("double", [_NAN, 2.5, None, -1.0], "any"),
        ("double", [2.5, -1.0, _NAN], "any"),
        ("float", [None, 0.25, -3.5], "exact"),
        ("timestamp", [_T0, None, _T0 + timedelta(microseconds=1)], "exact"),
        ("string", ["mike", None, "alpha", "zulu é"], "exact"),
        ("string", ["b", _BIG, "a"], "any"),
        ("string", [None, None], "absent"),
        ("string", "SELECT cast(X'61FF' AS string) c UNION ALL SELECT 'b'", "absent"),
        ("bigint", [None, None], "absent"),
    ],
)
def test_footer_bounds_never_narrower(spark, tmp_path, ddl, values, expect):
    """A recorded [lo, hi] must contain the data's true min/max in Spark's
    order (NaN above every number); absent is always safe."""
    store = str(tmp_path / "bounds")
    if isinstance(values, str):  # SQL, for values Python cannot pass
        df = spark.sql(values).coalesce(1)
    else:
        df = spark.createDataFrame([(v,) for v in values], f"c {ddl}").coalesce(1)
    write_snapshot(df, store, stat_cols=["c"])
    (row,) = _stats_rows(spark, store)
    lanes = (row.stats_i, row.stats_d, row.stats_s)
    bound = next((lane["c"] for lane in lanes if lane and "c" in lane), None)
    if expect == "absent":
        assert bound is None
        return
    key = F.unix_micros("c") if ddl == "timestamp" else F.col("c")
    true_lo, true_hi = df.agg(F.min(key), F.max(key)).first()
    if expect == "exact":
        assert bound == [true_lo, true_hi]
    if bound is not None:
        lo, hi = bound
        assert lo <= true_lo, (bound, true_lo)
        # a NaN true max fails this unless the bound is absent
        assert not (isinstance(true_hi, float) and math.isnan(true_hi)) and true_hi <= hi


def test_append_must_match_recorded_schema(spark, tmp_path):
    """The manifest records the written schema; an append with another
    column name or type is refused, naming the column.  Nullability
    alone may differ (stream micro-batches vs batch frames)."""
    store = str(tmp_path / "schema")
    write_snapshot(spark.range(3).withColumnRenamed("id", "x"), store)  # x NOT NULL
    write_snapshot(spark.createDataFrame([(None,)], "x bigint"), store)
    with pytest.raises(ValueError, match="'x' is int"):
        write_snapshot(spark.createDataFrame([(1,)], "x int"), store)
    with pytest.raises(ValueError, match="'y'"):
        write_snapshot(spark.createDataFrame([(1, 2)], "x bigint, y bigint"), store)
    # overwrite starts a fresh schema
    write_snapshot(spark.createDataFrame([(1,)], "x int"), store, mode="overwrite")
    assert read_snapshot(spark, store).schema.simpleString() == "struct<x:int>"


def test_commit_and_read_job_counts(spark, tmp_path, count_jobs):
    """A stat_cols-only commit runs only the data write's jobs; a bloom
    commit still runs its bloom job and still prunes; a read with the
    recorded schema runs no job (≤ 32 files: no parallel listing)."""
    rows = [(_T0 + timedelta(seconds=i), i, f"k{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "Timestamp timestamp, id long, key string").repartition(4)
    base = str(tmp_path / "plain")
    stats = str(tmp_path / "stats")
    bloom = str(tmp_path / "bloom")
    n_plain = count_jobs(lambda: write_snapshot(df, base))
    n_stats = count_jobs(
        lambda: write_snapshot(df, stats, stat_cols=["Timestamp", "id", "key"])
    )
    assert n_plain >= 1 and n_stats == n_plain
    assert any(r.stats_i for r in _stats_rows(spark, stats))
    n_bloom = count_jobs(
        lambda: write_snapshot(df, bloom, stat_cols=["id"], bloom_cols=["key"])
    )
    assert n_bloom > n_plain
    full = read_snapshot(spark, bloom)
    hit = read_snapshot(spark, bloom, bloom=("key", "k42"))
    assert len(hit.inputFiles()) < len(full.inputFiles())
    assert hit.filter(F.col("key") == "k42").count() == 1
    for _ in range(3):
        write_snapshot(df, stats, stat_cols=["Timestamp"])
    assert len(read_snapshot(spark, stats).inputFiles()) <= 32
    assert count_jobs(lambda: read_snapshot(spark, stats)) == 0
