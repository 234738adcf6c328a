"""Schema registry (SURVEY.md §1): Spark StructTypes mirroring the
reference's TypeBox schemas — strict envelope, lenient payload.

Geometry is carried as (geometry_type, geometry_json) string columns
(SURVEY.md §1.4): GeoJSON coordinate nesting is ragged across geometry
kinds, so the JSON text is the portable representation and coordinates are
parsed with from_json against the depth implied by geometry_type."""

from __future__ import annotations

from pyspark.sql import types as T

# areas — one row per Feature of the area FeatureCollection
# (reference task.ts:8-16; fixture spec FIXTURES.md Part B).
AREAS_SCHEMA = T.StructType(
    [
        T.StructField("area_id", T.StringType(), False),
        T.StructField("_pos", T.IntegerType(), False),  # source-collection position
        T.StructField("geometry_type", T.StringType(), False),
        T.StructField("geometry_json", T.StringType(), False),
        T.StructField("properties_json", T.StringType(), True),
    ]
)

# forecasts — mirrors AvalancheForecastSchema (reference task.ts:18-43).
SUMMARY_DAY = T.StructType(
    [
        T.StructField("date", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)
RATING_DAY = T.StructType(
    [
        T.StructField("alp", T.StringType(), True),
        T.StructField("tln", T.StringType(), True),
        T.StructField("btl", T.StringType(), True),
    ]
)
FORECASTS_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("area_id", T.StringType(), False),
        T.StructField("public_name", T.StringType(), True),
        T.StructField("forecaster", T.StringType(), True),
        T.StructField("issue_date_time", T.StringType(), True),  # ISO-8601 string,
        T.StructField("expiry_date_time", T.StringType(), True),  # as in task.ts:71
        T.StructField("is_translated", T.BooleanType(), True),
        T.StructField("summary_days", T.ArrayType(SUMMARY_DAY), True),
        T.StructField("rating_days", T.ArrayType(RATING_DAY), True),
    ]
)

# Registry tables (FIXTURES.md Part A): the names, types and order Spark's
# parquet schema inference gives the fixture files, declared so a table read
# runs no inference job. sources/tables.load_table checks every file's footer
# against these on the driver before reading. A no-tz parquet timestamp
# infers as TIMESTAMP_NTZ; events.ts is re-typed by the loader from its
# footer encoding (sources/tables._load_events).
def _table(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in cols])


_INT, _BIGINT, _DOUBLE = T.IntegerType(), T.LongType(), T.DoubleType()
_STRING, _TS_NTZ = T.StringType(), T.TimestampNTZType()

TABLE_SCHEMAS = {
    "region": _table(("r_regionkey", _INT), ("r_name", _STRING)),
    "nation": _table(
        ("n_nationkey", _INT), ("n_name", _STRING), ("n_regionkey", _INT)
    ),
    "customer": _table(
        ("c_custkey", _BIGINT),
        ("c_name", _STRING),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STRING),
    ),
    "supplier": _table(
        ("s_suppkey", _BIGINT),
        ("s_name", _STRING),
        ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _table(
        ("p_partkey", _BIGINT),
        ("p_name", _STRING),
        ("p_brand", _STRING),
        ("p_type", _STRING),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _table(
        ("o_orderkey", _BIGINT),
        ("o_custkey", _BIGINT),
        ("o_orderstatus", _STRING),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS_NTZ),
        ("o_orderpriority", _STRING),
    ),
    "lineitem": _table(
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
    "events": _table(
        ("event_id", _BIGINT),
        ("ts", _TS_NTZ),
        ("user_id", _BIGINT),
        ("event_type", _STRING),
        ("value", _DOUBLE),
        ("props", _STRING),
    ),
    "documents": _table(
        ("doc_id", _BIGINT),
        ("text", _STRING),
        ("lang", _STRING),
        ("source", _STRING),
        ("n_chars", _BIGINT),
    ),
    "embeddings": _table(
        ("vec_id", _BIGINT),
        ("embedding", T.ArrayType(T.FloatType(), True)),
        ("label", _INT),
    ),
}

# Coordinate depths per geometry kind, for from_json of geometry_json.
POLYGON_COORDS = "array<array<array<double>>>"
MULTIPOLYGON_COORDS = "array<array<array<array<double>>>>"
LINESTRING_COORDS = "array<array<double>>"
MULTILINESTRING_COORDS = "array<array<array<double>>>"
POINT_COORDS = "array<double>"
MULTIPOINT_COORDS = "array<array<double>>"
