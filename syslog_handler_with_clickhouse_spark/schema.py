"""Static schemas and constants.

The reference's single record type ``LogData`` (`lib/lopParse.go:21-27`)
maps to one fixed StructType, mirroring the reference's fixed-struct model
(SURVEY §1.2).  The fixture tables are declared here too
(``FIXTURE_SCHEMAS``), so reading them runs no footer-inference job.  A
fixture regeneration that changes a column must update ``FIXTURE_SCHEMAS``;
``tests/test_fixture_schema.py`` fails on any drift and names the column.
"""

from __future__ import annotations

from pyspark.sql import types as T

# LogData (`lib/lopParse.go:21-27`) → Spark row.
#   Timestamp  DateTime      → timestamp   (ingest time, lopParse.go:37,76)
#   Device     String        → string      ("ip:port" peer, lopParse.go:36,75)
#   Severity   Enum8 (0-7)   → tinyint     (lopParse.go:10-19)
#   Categories Array(String) → array<string> (non-null elements)
#   Message    String        → string
LOG_SCHEMA = T.StructType(
    [
        T.StructField("Timestamp", T.TimestampType(), nullable=False),
        T.StructField("Device", T.StringType(), nullable=False),
        T.StructField("Severity", T.ByteType(), nullable=False),
        T.StructField(
            "Categories", T.ArrayType(T.StringType(), containsNull=False), nullable=False
        ),
        T.StructField("Message", T.StringType(), nullable=False),
    ]
)

# RFC 5424 severity levels, `lib/lopParse.go:10-19`.
SEVERITY_NAMES = {
    0: "Emergency",
    1: "Alert",
    2: "Critical",
    3: "Error",
    4: "Warning",
    5: "Notice",
    6: "Informational",
    7: "Debug",
}

# Keyword → level map from the ParseLog switch (`lib/lopParse.go:51-72`).
# Multiple keywords share a level exactly as in the reference:
#   "fatal"|"emergency"→0 … "debug"|"packet"|"raw"→7; default→6 (Info)
SEVERITY_KEYWORDS = {
    "fatal": 0,
    "emergency": 0,
    "alert": 1,
    "critical": 2,
    "error": 3,
    "warning": 4,
    "notice": 5,
    "info": 6,
    "debug": 7,
    "packet": 7,
    "raw": 7,
}

DEFAULT_SEVERITY = 6  # `lib/lopParse.go:69-71` — unknown token → Info

# The raw ingest schema: one UTF-8 line + the peer address string
# (reference: 40 960-byte datagram `main.go:38` + remoteAddr `main.go:79`).
RAW_SCHEMA = T.StructType(
    [
        T.StructField("raw", T.StringType(), nullable=False),
        T.StructField("device", T.StringType(), nullable=False),
    ]
)

MAX_DATAGRAM_BYTES = 40_960  # `main.go:38`

# Fixture tables (TESTDATA.md / FIXTURES.md), exactly as Spark infers them
# from the Parquet footers: every column nullable, and the three timestamp
# columns stored without a TZ annotation, so they surface as timestamp_ntz
# (``sources/testdata.normalize_events_ts`` casts ``events.ts``).


def _columns(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in cols])


_INT, _BIGINT, _DOUBLE = T.IntegerType(), T.LongType(), T.DoubleType()
_STRING, _TS_NTZ = T.StringType(), T.TimestampNTZType()

FIXTURE_SCHEMAS: dict[str, T.StructType] = {
    "region": _columns(("r_regionkey", _INT), ("r_name", _STRING)),
    "nation": _columns(("n_nationkey", _INT), ("n_name", _STRING), ("n_regionkey", _INT)),
    "customer": _columns(
        ("c_custkey", _BIGINT),
        ("c_name", _STRING),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STRING),
    ),
    "supplier": _columns(
        ("s_suppkey", _BIGINT),
        ("s_name", _STRING),
        ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _columns(
        ("p_partkey", _BIGINT),
        ("p_name", _STRING),
        ("p_brand", _STRING),
        ("p_type", _STRING),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _columns(
        ("o_orderkey", _BIGINT),
        ("o_custkey", _BIGINT),
        ("o_orderstatus", _STRING),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS_NTZ),
        ("o_orderpriority", _STRING),
    ),
    "lineitem": _columns(
        ("l_orderkey", _BIGINT),
        ("l_partkey", _BIGINT),
        ("l_suppkey", _BIGINT),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STRING),
        ("l_linestatus", _STRING),
        ("l_shipdate", _TS_NTZ),
    ),
    "events": _columns(
        ("event_id", _BIGINT),
        ("ts", _TS_NTZ),
        ("user_id", _BIGINT),
        ("event_type", _STRING),
        ("value", _DOUBLE),
        ("props", _STRING),
    ),
    "documents": _columns(
        ("doc_id", _BIGINT),
        ("text", _STRING),
        ("lang", _STRING),
        ("source", _STRING),
        ("n_chars", _BIGINT),
    ),
    "embeddings": _columns(
        ("vec_id", _BIGINT),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", _INT),
    ),
}

TESTDATA_TABLES = tuple(FIXTURE_SCHEMAS)
