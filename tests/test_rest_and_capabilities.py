"""REST snapshot source (fail-fast semantics, injectable transport —
reference task.ts:88-107) and the capabilities introspection surface
(reference R17)."""

from __future__ import annotations

import json

import pytest

from etl_caic_spark.capabilities import capabilities, explain_query
from etl_caic_spark.schemas import AREAS_SCHEMA, FORECASTS_SCHEMA
from etl_caic_spark.sources.caic_fixtures import area_rows, forecast_rows
from etl_caic_spark.sources.rest import (
    decode_records,
    fetch_json_snapshot,
    snapshot_url,
    utcnow_iso,
)


def test_snapshot_url_encodes_params():
    url = snapshot_url(
        "https://example.test/products/all",
        {"datetime": "2026-02-01T10:00:00.000Z", "includeExpired": "false"},
    )
    assert "datetime=2026-02-01T10%3A00%3A00.000Z" in url
    assert url.startswith("https://example.test/products/all?")
    assert "T" in utcnow_iso() and utcnow_iso().endswith("Z")


def test_fetch_feature_collection_shape(spark):
    payload = {
        "type": "FeatureCollection",
        "features": [
            {
                "area_id": "A1",
                "_pos": 0,
                "geometry_type": "Polygon",
                "geometry_json": '{"type":"Polygon","coordinates":[]}',
                "properties_json": None,
            }
        ],
    }
    df = fetch_json_snapshot(
        spark,
        "https://example.test/areas",
        AREAS_SCHEMA,
        record_path="features",
        transport=lambda url: json.dumps(payload),
    )
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["area_id"] == "A1"


def test_fetch_fails_fast_on_bad_payload(spark):
    with pytest.raises(ValueError):
        fetch_json_snapshot(
            spark,
            "https://example.test/areas",
            FORECASTS_SCHEMA,
            record_path="features",
            transport=lambda url: json.dumps({"features": "not-an-array"}),
        )


def test_fetch_fails_fast_on_transport_error(spark):
    def boom(url):
        raise RuntimeError("non-2xx from upstream")

    with pytest.raises(RuntimeError):
        fetch_json_snapshot(spark, "https://x", AREAS_SCHEMA, transport=boom)


def test_capabilities_catalog():
    cat = capabilities()
    assert len(cat) > 90
    assert cat["agg_groupby_q1"]["oracle_checked"]
    assert not cat["dedup_minhash"]["oracle_checked"]
    assert all(v["doc"] for v in cat.values()), "every query is documented"


def test_explain_debug_toggle(spark, sf_dir):
    plan = explain_query(spark, sf_dir, "agg_groupby_q1")
    assert "HashAggregate" in plan and "PushedFilters" in plan


# --- Arrow decode parity with createDataFrame(records, schema) -------------

_AREAS = [dict(zip(AREAS_SCHEMA.names, r)) for r in area_rows()]
_FORECASTS = [dict(zip(FORECASTS_SCHEMA.names, r)) for r in forecast_rows()]
_AREA, _FORECAST = _AREAS[0], _FORECASTS[0]


def _area(**kw):
    return [{**_AREA, **kw}]


def _forecast(**kw):
    return [{**_FORECAST, **kw}]


_PARITY = {
    "areas_fixture": (_AREAS, AREAS_SCHEMA),
    "forecasts_fixture": (_FORECASTS, FORECASTS_SCHEMA),
    "empty": ([], AREAS_SCHEMA),
    "int_id": (_area(area_id=7), AREAS_SCHEMA),
    "bool_id": (_area(area_id=True), AREAS_SCHEMA),
    "big_int_in_string": (_area(properties_json=2**70), AREAS_SCHEMA),
    "int_in_nested_string": (
        _forecast(summary_days=[{"date": 20260201, "content": False}]),
        FORECASTS_SCHEMA,
    ),
    "null_nullable": (_area(properties_json=None), AREAS_SCHEMA),
    "missing_nullable": (
        [{k: v for k, v in _AREA.items() if k != "properties_json"}],
        AREAS_SCHEMA,
    ),
    "missing_nested_key": (
        _forecast(rating_days=[{"alp": "low"}, None]),
        FORECASTS_SCHEMA,
    ),
    "extra_keys": (_area(zzz=[1, {"a": 2}]), AREAS_SCHEMA),
    "extra_nested_keys": (
        _forecast(summary_days=[{"date": "d", "content": "c", "zzz": 1}]),
        FORECASTS_SCHEMA,
    ),
    "null_non_nullable": (_area(area_id=None), AREAS_SCHEMA),
    "missing_non_nullable": (
        [{k: v for k, v in _AREA.items() if k != "_pos"}],
        AREAS_SCHEMA,
    ),
    "string_in_int": (_area(_pos="3"), AREAS_SCHEMA),
    "fractional_pos": (_area(_pos=3.5), AREAS_SCHEMA),
    "integral_float_pos": (_area(_pos=3.0), AREAS_SCHEMA),
    "bool_in_int": (_area(_pos=True), AREAS_SCHEMA),
    "int_overflow": (_area(_pos=2**40), AREAS_SCHEMA),
    "string_in_bool": (_forecast(is_translated="yes"), FORECASTS_SCHEMA),
    "int_in_bool": (_forecast(is_translated=1), FORECASTS_SCHEMA),
    "string_for_array": (_forecast(summary_days="x"), FORECASTS_SCHEMA),
    "object_for_array": (_forecast(rating_days={"alp": "low"}), FORECASTS_SCHEMA),
    "scalar_array_element": (_forecast(rating_days=["low"]), FORECASTS_SCHEMA),
    "empty_arrays": (_forecast(summary_days=[], rating_days=[]), FORECASTS_SCHEMA),
}


def _outcome(fn):
    try:
        df = fn()
        return df.schema, sorted(df.collect())
    except Exception:
        return "raised"


@pytest.mark.parametrize("case", sorted(_PARITY))
def test_decode_matches_list_decode(spark, case):
    """The Arrow decode gives the rows createDataFrame(records, schema)
    gives, or raises where it raises."""
    records, schema = _PARITY[case]
    want = _outcome(lambda: spark.createDataFrame(records, schema))
    got = _outcome(lambda: decode_records(spark, records, schema))
    assert got == want


@pytest.mark.parametrize(
    "records,schema",
    [
        (_area(geometry_json={"type": "Polygon"}), AREAS_SCHEMA),  # '{type=Polygon}'
        (_area(properties_json=[1, 2]), AREAS_SCHEMA),  # '[1, 2]'
        (_area(properties_json=3.5), AREAS_SCHEMA),  # Java's Double.toString
        ([list(_AREA.values())], AREAS_SCHEMA),  # bound by position
        (_forecast(summary_days=[["2026-02-01", "c"]]), FORECASTS_SCHEMA),  # likewise
        (_area(area_id="\ud800x"), AREAS_SCHEMA),  # lone surrogate: U+FFFD there
    ],
    ids=["object_in_string", "array_in_string", "float_in_string",
         "positional_record", "positional_struct", "lone_surrogate"],
)
def test_decode_raises_where_arrow_is_stricter(spark, records, schema):
    """Payloads the list decode accepts, with JVM toString text or
    positional binding: the Arrow decode raises instead of decoding
    other cells."""
    spark.createDataFrame(records, schema).collect()  # accepted there
    with pytest.raises((TypeError, ValueError)):
        decode_records(spark, records, schema)


def test_int_ids_decode_as_text(spark):
    """The reference's String(feat.id) normalization (task.ts:99)."""
    rows = decode_records(
        spark, _area(area_id=7) + _area(area_id=False), AREAS_SCHEMA
    ).collect()
    assert [r["area_id"] for r in rows] == ["7", "false"]


def test_pipeline_over_fetched_frames_scans_no_rdd(spark):
    """Fetched frames are local Arrow relations: the pipeline's plan scans
    no ExistingRDD, so no Python worker runs per scan."""
    from etl_caic_spark.operators.caic import caic_pipeline

    bodies = {"a": json.dumps({"features": _AREAS}), "f": json.dumps(_FORECASTS)}
    areas = fetch_json_snapshot(
        spark, "a", AREAS_SCHEMA, record_path="features", transport=bodies.get
    )
    forecasts = fetch_json_snapshot(spark, "f", FORECASTS_SCHEMA, transport=bodies.get)
    df = caic_pipeline(areas, forecasts)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan
