"""Golden test for the flagship CAIC pipeline (SURVEY.md §5.2.2):
hand-built areas/forecasts inputs with exactly known expected outputs,
pinning every §2.B semantic — last-write-wins dedup, inner-join drops,
type filter, guards, day-0 worst severity, unknown-rating fallback,
Multi explode with id suffixes, remarks coalesce — plus the sink shape."""

from __future__ import annotations

import json
import re

import pytest

from etl_caic_spark.operators.caic import caic_pipeline, explode_multi_geometries
from etl_caic_spark.schemas import AREAS_SCHEMA, FORECASTS_SCHEMA
from etl_caic_spark.sources.caic_fixtures import generate_areas, generate_forecasts
from etl_caic_spark.sources.sinks import submit_feature_collection

POLY1 = {"type": "Polygon", "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]}
POLY2 = {"type": "Polygon", "coordinates": [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 5.0]]]}
MPOLY = {
    "type": "MultiPolygon",
    "coordinates": [
        [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 0.0]]],
        [[[9.0, 9.0], [9.5, 9.0], [9.5, 9.5], [9.0, 9.0]]],
    ],
}
# Non-polygon Multi kinds: the reference strips 'Multi' from ANY geometry
# type (task.ts:171-186), so these must explode with the same id-suffix
# semantics at their own coordinate depth.
MLINE = {
    "type": "MultiLineString",
    "coordinates": [
        [[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]],
        [[5.0, 5.0], [6.0, 6.0]],
    ],
}
MPOINT = {"type": "MultiPoint", "coordinates": [[1.5, 2.5], [3.5, 4.5], [5.5, 6.5]]}


def _areas(spark):
    rows = [
        # A1 appears twice: _pos 0 (POLY1) then _pos 3 (POLY2) → POLY2 wins.
        ("A1", 0, "Polygon", json.dumps(POLY1), None),
        ("A2", 1, "MultiPolygon", json.dumps(MPOLY), '{"name":"two"}'),
        ("A3", 2, "Polygon", json.dumps(POLY1), None),
        ("A1", 3, "Polygon", json.dumps(POLY2), None),
        ("A4", 4, "MultiLineString", json.dumps(MLINE), None),
        ("A5", 5, "MultiPoint", json.dumps(MPOINT), None),
    ]
    return spark.createDataFrame(rows, AREAS_SCHEMA)


def _forecast(pid, ptype, area, summary, ratings):
    return (
        pid,
        ptype,
        area,
        f"Public {area}",
        "tester",
        "2026-02-01T10:00:00Z",
        "2026-02-02T10:00:00Z",
        False,
        summary,
        ratings,
    )


def _forecasts(spark):
    rows = [
        # F1 → A1: ratings day-0 worst should be 'high' (high beats moderate/low).
        _forecast(
            "F1",
            "avalancheforecast",
            "A1",
            [{"date": "2026-02-01", "content": "watch the wind slabs"}],
            [
                {"alp": "high", "tln": "moderate", "btl": "low"},
                {"alp": "extreme", "tln": "extreme", "btl": "extreme"},  # day-1 ignored
            ],
        ),
        # F2 → A2 (MultiPolygon, 2 parts → rows F2-0, F2-1); all noRating.
        _forecast(
            "F2",
            "avalancheforecast",
            "A2",
            [{"date": "2026-02-01", "content": "quiet"}],
            [{"alp": "noRating", "tln": "noRating", "btl": "noRating"}],
        ),
        # F3: unknown rating everywhere → defined fallback = No Rating.
        _forecast(
            "F3",
            "avalancheforecast",
            "A3",
            [{"date": "2026-02-01", "content": "???"}],
            [{"alp": "unknownRating", "tln": "unknownRating", "btl": "unknownRating"}],
        ),
        # F4: wrong type → filtered (task.ts:114).
        _forecast(
            "F4",
            "weathersummary",
            "A1",
            [{"date": "2026-02-01", "content": "x"}],
            [{"alp": "low", "tln": "low", "btl": "low"}],
        ),
        # F5: dangling area → inner-join drop (task.ts:140-141).
        _forecast(
            "F5",
            "avalancheforecast",
            "A9",
            [{"date": "2026-02-01", "content": "x"}],
            [{"alp": "low", "tln": "low", "btl": "low"}],
        ),
        # F6: empty rating_days → guard drop (task.ts:138).
        _forecast(
            "F6",
            "avalancheforecast",
            "A1",
            [{"date": "2026-02-01", "content": "x"}],
            [],
        ),
        # F7: null summary_days → guard drop (task.ts:137).
        _forecast(
            "F7",
            "avalancheforecast",
            "A1",
            None,
            [{"alp": "low", "tln": "low", "btl": "low"}],
        ),
        # F8 → A4 (MultiLineString, 2 parts → F8-0, F8-1).
        _forecast(
            "F8",
            "avalancheforecast",
            "A4",
            [{"date": "2026-02-01", "content": "lines"}],
            [{"alp": "moderate", "tln": "low", "btl": "low"}],
        ),
        # F9 → A5 (MultiPoint, 3 parts → F9-0..F9-2).
        _forecast(
            "F9",
            "avalancheforecast",
            "A5",
            [{"date": "2026-02-01", "content": "points"}],
            [{"alp": "low", "tln": "low", "btl": "low"}],
        ),
    ]
    return spark.createDataFrame(rows, FORECASTS_SCHEMA)


@pytest.fixture(scope="module")
def result(spark):
    out = caic_pipeline(_areas(spark), _forecasts(spark))
    return {r["id"]: r.asDict(recursive=True) for r in out.collect()}


def test_survivor_set(result):
    # F1 (single), F2 exploded into 2 polygon parts, F3 (single), F8 into 2
    # line parts, F9 into 3 point parts — nothing else.
    assert set(result) == {
        "caic-A1",
        "caic-A2-0",
        "caic-A2-1",
        "caic-A3",
        "caic-A4-0",
        "caic-A4-1",
        "caic-A5-0",
        "caic-A5-1",
        "caic-A5-2",
    }


def test_worst_severity_day0_only(result):
    r = result["caic-A1"]
    assert r["callsign"] == "High"  # day-1 'extreme' must be ignored
    assert r["fill"] == "#ee1d23"  # reference-exact fill (task.ts:127-134)
    assert r["stroke"] == r["fill"]
    assert r["fill_opacity"] == 0.5 and r["stroke_opacity"] == 0.75
    assert r["remarks"] == "watch the wind slabs"
    meta = json.loads(r["metadata"])
    # reference-exact 7-field metadata object (task.ts:158-167)
    assert set(meta) == {
        "forecaster",
        "issueDateTime",
        "expiryDateTime",
        "isTranslated",
        "ratingAbove",
        "ratingNear",
        "ratingBelow",
    }
    assert meta["ratingAbove"] == "high"
    assert meta["ratingNear"] == "moderate"
    assert meta["ratingBelow"] == "low"


def test_last_write_wins_dedup(result):
    # A1's later fixture (_pos 3) carries POLY2 — that geometry must win.
    geom = json.loads(result["caic-A1"]["geometry_json"])
    assert geom == POLY2


def test_unknown_rating_defined_fallback(result):
    # SURVEY.md §2.B.2: unknown strings rank as noRating (not undefined).
    r = result["caic-A3"]
    assert r["callsign"] == "No Rating"
    assert r["fill"] == "#ffffff"  # reference-exact noRating fill
    assert json.loads(r["metadata"])["ratingAbove"] == "unknownRating"


def test_multi_explode_parts(result):
    p0 = json.loads(result["caic-A2-0"]["geometry_json"])
    p1 = json.loads(result["caic-A2-1"]["geometry_json"])
    assert p0 == {"type": "Polygon", "coordinates": MPOLY["coordinates"][0]}
    assert p1 == {"type": "Polygon", "coordinates": MPOLY["coordinates"][1]}
    for pid in ("caic-A2-0", "caic-A2-1"):
        assert result[pid]["geometry_type"] == "Polygon"
        assert result[pid]["callsign"] == "No Rating"
        # exploded parts share the same properties (SURVEY.md §2.B.5)
        assert result[pid]["metadata"] == result["caic-A2-0"]["metadata"]


def test_multi_explode_non_polygon_kinds(result):
    # MultiLineString → LineString parts at depth 3 (task.ts:171-186 strips
    # 'Multi' from any kind; coordinate parsing must match the kind's depth).
    for i in (0, 1):
        r = result[f"caic-A4-{i}"]
        assert r["geometry_type"] == "LineString"
        g = json.loads(r["geometry_json"])
        assert g == {"type": "LineString", "coordinates": MLINE["coordinates"][i]}
    assert result["caic-A4-0"]["callsign"] == "Moderate"
    # MultiPoint → Point parts at depth 2.
    for i in (0, 1, 2):
        r = result[f"caic-A5-{i}"]
        assert r["geometry_type"] == "Point"
        g = json.loads(r["geometry_json"])
        assert g == {"type": "Point", "coordinates": MPOINT["coordinates"][i]}


def test_fixture_generator_pipeline_shape(spark):
    """The seeded generator fixtures run end-to-end and hit every branch."""
    areas = generate_areas(spark, n=60, seed=42)
    forecasts = generate_forecasts(spark, n_areas=60, per_area=2.0, seed=43)
    out = caic_pipeline(areas, forecasts)
    rows = out.collect()
    assert len(rows) > 0
    ids = [r["id"] for r in rows]
    # N:1 multiplicity (SURVEY.md §2.B.1): several forecasts may target one
    # area and share its id — so ids repeat across forecasts, but each
    # forecast's explode must produce distinct part suffixes.
    assert any("-" in i.removeprefix("caic-A") for i in ids), "no exploded parts"
    assert all(r["geometry_type"] in ("Polygon",) for r in rows)
    labels = {r["callsign"] for r in rows}
    assert labels <= {"Extreme", "High", "Considerable", "Moderate", "Low", "No Rating"}
    # re-run determinism (idempotent keying, SURVEY.md §2.B.8)
    again = {r["id"] for r in caic_pipeline(areas, forecasts).collect()}
    assert again == set(ids)


def test_submit_sink_shape(spark):
    out = caic_pipeline(_areas(spark), _forecasts(spark))
    sent = []
    n = submit_feature_collection(out, transport=sent.append)
    assert n == 9
    fc = json.loads(sent[0])
    assert fc["type"] == "FeatureCollection"
    feats = {f["id"]: f for f in fc["features"]}
    assert feats["caic-A2-0"]["geometry"]["type"] == "Polygon"
    assert feats["caic-A4-1"]["geometry"]["type"] == "LineString"
    assert feats["caic-A1"]["properties"]["callsign"] == "High"
    assert "geometry_json" not in feats["caic-A1"]["properties"]
    # metadata is re-nested to the reference's properties.metadata object.
    meta = feats["caic-A1"]["properties"]["metadata"]
    assert isinstance(meta, dict) and meta["ratingAbove"] == "high"


def _explode(spark, geoms):
    """explode_multi_geometries over bare feature rows (id, type, json)."""
    rows = [
        (fid, "Low", "#4db748", 0.5, "#4db748", 0.75, "r", "{}", gtype, gjson)
        for fid, gtype, gjson in geoms
    ]
    schema = (
        "id string, callsign string, fill string, fill_opacity double, "
        "stroke string, stroke_opacity double, remarks string, "
        "metadata string, geometry_type string, geometry_json string"
    )
    out = explode_multi_geometries(spark.createDataFrame(rows, schema))
    return {r["id"]: r.asDict() for r in out.collect()}


@pytest.fixture(scope="module")
def edge(spark):
    return _explode(
        spark,
        [
            ("empty", "MultiPolygon", '{"type":"MultiPolygon","coordinates":[]}'),
            ("bad", "MultiLineString", "{not json"),
            ("untyped", None, json.dumps(POLY1)),
            ("nojson", "Polygon", None),
            ("coll", "GeometryCollection", '{"type":"GeometryCollection"}'),
            ("pt", "MultiPoint", json.dumps(MPOINT)),
        ],
    )


def test_explode_empty_multi_yields_no_rows(edge):
    assert not [i for i in edge if i.startswith("empty")]


def test_explode_unparsable_multi_yields_no_rows(edge):
    assert not [i for i in edge if i.startswith("bad")]


def test_explode_drops_null_geometry_type(edge):
    assert "untyped" not in edge


def test_explode_passes_null_geometry_json_through(edge):
    assert edge["nojson"]["geometry_type"] == "Polygon"
    assert edge["nojson"]["geometry_json"] is None


def test_explode_passes_unknown_kind_through(edge):
    assert edge["coll"]["geometry_type"] == "GeometryCollection"
    assert edge["coll"]["geometry_json"] == '{"type":"GeometryCollection"}'
    # the Multi* row beside them still explodes, at byte-exact part JSON
    assert {i for i in edge if i.startswith("pt")} == {"pt-0", "pt-1", "pt-2"}
    assert edge["pt-1"]["geometry_type"] == "Point"
    assert edge["pt-1"]["geometry_json"] == '{"type":"Point","coordinates":[3.5,4.5]}'


def test_pipeline_plan_single_pass(spark):
    """One dedup shuffle, one broadcast, no per-kind Union branches: a
    union form re-plans the dedup -> broadcast subtree once per branch."""
    out = caic_pipeline(_areas(spark), _forecasts(spark))
    out.collect()  # run it, so the plan read is AQE's final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert "Union" not in final
    assert final.count("BroadcastExchange") == 1
    assert len(re.findall(r"- Exchange ", final)) <= 1
