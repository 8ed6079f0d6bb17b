"""Round-7 ADVICE regression tests — one per advisor finding:

1. KMV sketch must NOT count NULL keys as a distinct value
   (operators/sketches.py:_kmv_hash_col).
2. dict functions never clobber user columns that collide with their
   temp names (functions/dicts.py).
3. _gif_lzw_decode raises ValueError (not KeyError) on a corrupt
   first-code-after-clear (operators/multimodal.py).
4. refresh_mv_from_changefeed refuses to persist negative counts as
   initial MV state (sources/mv.py).

The snapshot_diff reversed-range test lives in tests/test_snapshots.py.
"""

import pytest
from pyspark.sql import functions as F


def test_kmv_null_keys_not_counted(spark):
    """NULL is not a distinct value (countDistinct / CH uniq
    semantics): a column of 50 distinct ints + NULLs must estimate 50,
    not 51, and an all-NULL column estimates 0."""
    from syslog_handler_with_clickhouse_spark.operators.sketches import (
        kmv_sketch,
    )

    rows = [("g", i % 50 if i % 3 else None) for i in range(3_000)]
    df = spark.createDataFrame(rows, "grp string, v int").repartition(8)
    out = {r.grp: r for r in kmv_sketch(df, "v", ["grp"], k=256).collect()}
    # 50 non-null distincts (i%3 != 0 covers all residues of i%50)
    assert out["g"].est_distinct == 50.0

    all_null = spark.createDataFrame(
        [("g", None)] * 100, "grp string, v int"
    )
    out2 = {
        r.grp: r for r in kmv_sketch(all_null, "v", ["grp"], k=256).collect()
    }
    assert out2["g"].est_distinct == 0.0


def test_dict_temp_names_do_not_clobber_user_columns(spark):
    """A facts frame that legitimately owns __fk / __h0_name / __present
    columns must come through every dict function intact."""
    from syslog_handler_with_clickhouse_spark.functions.dicts import (
        dict_get,
        dict_get_hierarchy,
        dict_has,
    )

    facts = spark.createDataFrame(
        [(1, "keepme", "mine", True)],
        "k int, __fk string, __h0_name string, __present boolean",
    )
    dim = spark.createDataFrame([(1, "one", 10)], "id int, name string, parent int")
    dim2 = spark.createDataFrame([(10, "ten")], "id int, name string")

    got = dict_get(facts, "k", dim, "id", "name", out="looked").collect()[0]
    assert got["__fk"] == "keepme" and got.looked == "one"

    got = dict_has(facts, "k", dim, "id", out="present").collect()[0]
    assert got["__present"] is True and got.present is True

    levels = [(dim, "id", "name", "parent"), (dim2, "id", "name", None)]
    got = dict_get_hierarchy(facts, "k", levels, out="chain").collect()[0]
    assert got.chain == ["one", "ten"]
    assert got["__fk"] == "keepme" and got["__h0_name"] == "mine"


def test_gif_lzw_corrupt_first_code_raises_valueerror():
    from syslog_handler_with_clickhouse_spark.operators.multimodal import (
        _gif_lzw_decode,
    )

    # min_code_size=2: clear=4, end=5, codes are 3 bits wide after clear.
    # Stream: CLEAR(4) then 7 — 7 is neither literal (<4) nor nxt(6):
    # bits LSB-first: 100 111 -> byte 0b00111100 = 0x3C
    with pytest.raises(ValueError, match="LZW"):
        _gif_lzw_decode(2, bytes([0x3C]), expected=4)


def test_mv_changefeed_refuses_negative_initial_state(spark, tmp_path):
    from syslog_handler_with_clickhouse_spark.sources.mv import (
        refresh_mv_from_changefeed,
    )
    from syslog_handler_with_clickhouse_spark.sources.snapshots import (
        rewrite_snapshot,
        write_snapshot,
    )

    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")  # never initialized
    d1 = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10)], "k string, v long"
    )
    write_snapshot(d1, src)  # v1
    rewrite_snapshot(spark, src, lambda df: df.filter(F.col("k") != "a"))  # v2
    with pytest.raises(ValueError, match="base snapshot"):
        refresh_mv_from_changefeed(spark, mv, src, ["k"], ["v"], 1, 2)
