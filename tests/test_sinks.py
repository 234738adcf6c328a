"""Sink guards and roundtrips not covered by the oracled queries."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from etl_caic_spark.sources import load_table
from etl_caic_spark.sources.sinks import (
    submit_feature_collection,
    to_feature_collection,
    write_json,
    write_parquet,
)
from etl_caic_spark.util import scratch_path


def _fake_features(spark, n):
    return (
        spark.range(n)
        .select(
            F.concat(F.lit("f-"), F.col("id")).alias("id"),
            F.lit("Polygon").alias("geometry_type"),
            F.lit('{"type":"Polygon","coordinates":[]}').alias("geometry_json"),
            F.lit("Low").alias("callsign"),
        )
    )


def test_submit_cap_guards_unbounded_collect(spark):
    df = _fake_features(spark, 50)
    with pytest.raises(ValueError, match="exceeds"):
        to_feature_collection(df, max_rows=10)
    sent = []
    n = submit_feature_collection(df, sent.append, max_rows=100)
    assert n == 50
    fc = json.loads(sent[0])
    assert len(fc["features"]) == 50
    assert fc["features"][0]["type"] == "Feature"


def test_submit_cap_is_exact(spark):
    df = _fake_features(spark, 7)
    assert len(to_feature_collection(df, max_rows=7)["features"]) == 7
    with pytest.raises(ValueError, match="exceeds 6 rows"):
        to_feature_collection(df, max_rows=6)


def test_submit_cells_match_recursive_asdict(spark):
    """Struct, array and null cells reach the payload as dict, list and
    None (what Row.asDict(recursive=True) gave), and property keys keep
    the frame's column order."""
    df = _fake_features(spark, 2).select(
        "id",
        F.struct(F.lit(1).alias("a"), F.array(F.lit("x")).alias("b")).alias("nested"),
        F.array(F.struct(F.col("id").alias("k"))).alias("items"),
        F.lit(None).cast("string").alias("empty"),
        "geometry_type",
        "callsign",
        "geometry_json",
    )
    fc = to_feature_collection(df)
    expected = {r["id"]: r.asDict(recursive=True) for r in df.collect()}
    for feat in fc["features"]:
        props = feat["properties"]
        assert list(props) == ["nested", "items", "empty", "callsign"]
        want = expected[feat["id"]]
        assert props["nested"] == want["nested"] == {"a": 1, "b": ["x"]}
        assert props["items"] == want["items"] == [{"k": feat["id"]}]
        assert props["empty"] is None and want["empty"] is None
        assert props["callsign"] == want["callsign"]


def test_write_parquet_json_idempotent_overwrite(spark, sf_dir):
    df = load_table(spark, sf_dir, "region")
    for writer, reader in (
        (write_parquet, spark.read.parquet),
        (write_json, lambda p: spark.read.schema(df.schema).json(p)),
    ):
        path = scratch_path(f"sink_{writer.__name__}")
        writer(df, path)
        writer(df, path)  # idempotent re-run (overwrite)
        assert sorted(map(tuple, reader(path).collect())) == sorted(
            map(tuple, df.collect())
        )
