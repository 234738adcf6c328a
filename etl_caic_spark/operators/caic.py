"""The flagship CAIC pipeline (SURVEY.md §2.D): the reference's entire
dataflow R1→R15 re-expressed as one declarative DataFrame pipeline —
decode → type filter (R6) → non-empty guards (R7) → last-write-wins
build-side dedup (R3) → broadcast inner join (R8) → worst-severity
min-over-ordinal (R9) → label/color map lookups (R10) → styled projection
with nested metadata (R11, R12) → conditional positional explode of Multi*
geometries with passthrough of single geometries (R13, R14), one
posexplode over a per-row parts array.

Reference anchors are cited per step; deviations are documented inline
(unknown ratings rank as noRating — SURVEY.md §2.B.2).

Build cost: the constant-heavy expressions (severity rank, label/fill
maps, the Multi* parts, the id/type rewrite) are SQL text built once at
import, so building the pipeline is a handful of py4j calls, not one per
expression node.

Scale: areas is the small dimension → explicit broadcast(); forecasts is
the fact side and never shuffles (filter/project/explode are all
narrow after the broadcast join). The whole pipeline is one stage of
whole-stage-codegen work per partition — the same shape the reference
hand-fused in its single loop (task.ts:136-187)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_caic_spark.functions.ordinal import (
    SEVERITY_ORDER,
    severity_rank_sql,
    sql_array,
)
from etl_caic_spark.schemas import (
    MULTILINESTRING_COORDS,
    MULTIPOINT_COORDS,
    MULTIPOLYGON_COORDS,
)

# Ordinal → human label (reference task.ts:118-125).
SEVERITY_LABEL = {
    "extreme": "Extreme",
    "high": "High",
    "considerable": "Considerable",
    "moderate": "Moderate",
    "low": "Low",
    "noRating": "No Rating",
}

# Ordinal → fill/stroke hex — the reference's exact color dictionary
# (task.ts:127-134): these are the data semantics a consumer of the
# reference output styles by, so output parity requires the same values.
SEVERITY_FILL = {
    "extreme": "#221e1f",
    "high": "#ee1d23",
    "considerable": "#f8931d",
    "moderate": "#fef102",
    "low": "#4db748",
    "noRating": "#ffffff",
}

FILL_OPACITY = 0.5  # task.ts:154
STROKE_OPACITY = 0.75  # task.ts:156

# R9: worst severity = min-over-ordinal across day-0 bands
# (task.ts:116,143-146; day-0 only per SURVEY.md §2.B.4). Unknown ratings
# rank as noRating (defined fallback, SURVEY.md §2.B.2).
_WORST_RANK = "CAST(least({}) AS INT)".format(
    ", ".join(
        severity_rank_sql(f"element_at(rating_days, 1).{band}")
        for band in ("btl", "tln", "alp")
    )
)
_WORST = f"element_at({sql_array(SEVERITY_ORDER)}, {_WORST_RANK})"


def _lookup(d: dict[str, str]) -> str:
    """R10 dictionary lookup of the worst ordinal (task.ts:118-134)."""
    pairs = ", ".join(f"'{k}', '{v}'" for k, v in d.items())
    return f"element_at(map({pairs}), {_WORST})"


# R10-R12: dictionary lookups + styled projection + nested metadata
# (task.ts:118-134, 148-169).
_FEATURE_COLUMNS = [
    "concat('caic-', area_id) AS id",  # task.ts:149
    f"{_lookup(SEVERITY_LABEL)} AS callsign",  # task.ts:152
    f"{_lookup(SEVERITY_FILL)} AS fill",  # task.ts:153
    f"{FILL_OPACITY}D AS fill_opacity",  # task.ts:154
    f"{_lookup(SEVERITY_FILL)} AS stroke",  # task.ts:155 (stroke = fill color)
    f"{STROKE_OPACITY}D AS stroke_opacity",  # task.ts:156
    # task.ts:157 (coalesce = declared intent)
    "coalesce(element_at(summary_days, 1).content, 'No Remarks') AS remarks",
    # task.ts:158-167 — the reference's exact 7-field metadata object
    # (camelCase keys), serialized: a JSON string cell is scalar for the
    # value-hash canonicalizer and is re-nested at the GeoJSON sink.
    "to_json(named_struct("
    "'forecaster', forecaster, "
    "'issueDateTime', issue_date_time, "
    "'expiryDateTime', expiry_date_time, "
    "'isTranslated', is_translated, "
    "'ratingAbove', element_at(rating_days, 1).alp, "
    "'ratingNear', element_at(rating_days, 1).tln, "
    "'ratingBelow', element_at(rating_days, 1).btl)) AS metadata",
    "geometry_type",
    "geometry_json",
]


def dedup_areas_last_wins(areas: DataFrame) -> DataFrame:
    """Build-side dedup, last write wins on duplicate area ids — the
    reference's Map insertion semantics (task.ts:97-100), made explicit
    and deterministic via the carried _pos column (SURVEY.md §7.4.3)."""
    return (
        areas.withColumn(
            "_rn", F.expr("row_number() OVER (PARTITION BY area_id ORDER BY _pos DESC)")
        )
        .filter("_rn = 1")
        .drop("_rn")
    )


def caic_features(areas: DataFrame, forecasts: DataFrame) -> DataFrame:
    """Forecast products → styled GeoJSON-feature rows (pre-explode)."""
    # R6: type discriminator (task.ts:114); R7: non-empty guards
    # (task.ts:137-138).
    fc = forecasts.filter(
        "type = 'avalancheforecast'"
        " AND summary_days IS NOT NULL AND size(summary_days) > 0"
        " AND rating_days IS NOT NULL AND size(rating_days) > 0"
    )
    # R3 + R8: dedup'd areas broadcast, inner join on string-normalized key
    # (task.ts:97-100, 140-141; the reference casts with String(feat.id)).
    dim = dedup_areas_last_wins(areas).selectExpr(
        "CAST(area_id AS STRING) AS _dim_area_id", "geometry_type", "geometry_json"
    )
    j = fc.join(
        F.broadcast(dim), F.expr("CAST(area_id AS STRING) = _dim_area_id"), "inner"
    )
    return j.selectExpr(*_FEATURE_COLUMNS)


# Coordinate schema per Multi* geometry kind: the reference strips 'Multi'
# from ANY geometry type and iterates coordinates generically
# (task.ts:171-186, startsWith('Multi') + replace('Multi','')); a typed
# engine needs the per-kind coordinate depth to parse the parts. GeoJSON
# (RFC 7946 §3.1) defines exactly these three Multi kinds.
MULTI_COORDS = {
    "MultiPolygon": MULTIPOLYGON_COORDS,
    "MultiLineString": MULTILINESTRING_COORDS,
    "MultiPoint": MULTIPOINT_COORDS,
}

_IS_MULTI = "geometry_type IN ({})".format(", ".join(f"'{k}'" for k in MULTI_COORDS))

# Each row's parts as one array<string>: the Multi* coordinates parsed at
# the depth the kind implies, each part re-serialized as a single geometry
# (task.ts:179); [geometry_json] for any other non-null kind.
_PARTS = "CASE {} WHEN geometry_type IS NOT NULL THEN array(geometry_json) END".format(
    " ".join(
        f"WHEN geometry_type = '{kind}' THEN transform("
        f"from_json(geometry_json, 'struct<type:string,coordinates:{coords}>')"
        f".coordinates, c -> to_json(named_struct("
        f"'type', '{kind.replace('Multi', '')}', 'coordinates', c)))"
        for kind, coords in MULTI_COORDS.items()
    )
)

# The id and type rewrite of an exploded row (task.ts:178-181).
_REWRITE = {
    "id": f"CASE WHEN {_IS_MULTI} THEN concat(id, '-', _part_idx) ELSE id END",
    "geometry_type": "CASE WHEN NOT ({}) THEN geometry_type {} END".format(
        _IS_MULTI,
        " ".join(
            f"WHEN geometry_type = '{kind}' THEN '{kind.replace('Multi', '')}'"
            for kind in MULTI_COORDS
        ),
    ),
    "geometry_json": "_part",
}


def explode_multi_geometries(features: DataFrame) -> DataFrame:
    """R13 + R14 (task.ts:171-186): Multi* geometries become one feature per
    part with `id = id + '-' + i` and the Multi prefix stripped; every other
    geometry passes through unchanged (a null geometry_json included).

    One pass, one posexplode over each row's parts (_PARTS): `[geometry_json]`
    for a non-Multi row, the per-part GeoJSON for a Multi* row, its
    coordinates parsed at the depth its geometry_type implies (SURVEY.md
    §1.4). A Multi* row whose coordinates are empty or unparsable has no
    parts and yields no row; a row with a null geometry_type matches no
    case and is dropped. Rows come out in input order, parts in coordinate
    order; consumers key by id or hash order-insensitively, so nothing
    depends on row order."""
    exploded = features.selectExpr("*", f"posexplode({_PARTS}) AS (_part_idx, _part)")
    return exploded.selectExpr(
        *[f"{_REWRITE[c]} AS {c}" if c in _REWRITE else c for c in features.columns]
    )


def caic_pipeline(areas: DataFrame, forecasts: DataFrame) -> DataFrame:
    """Full reference dataflow: features + conditional explode."""
    return explode_multi_geometries(caic_features(areas, forecasts))
