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

Scale: areas is the small dimension → explicit broadcast(); forecasts is
the fact side and never shuffles (filter/project/explode are all
narrow after the broadcast join). The whole pipeline is one stage of
whole-stage-codegen work per partition — the same shape the reference
hand-fused in its single loop (task.ts:136-187)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_caic_spark.functions.ordinal import SEVERITY_ORDER, severity_rank
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


def _lit_map(d: dict[str, str]):
    pairs = []
    for k, v in d.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


def dedup_areas_last_wins(areas: DataFrame) -> DataFrame:
    """Build-side dedup, last write wins on duplicate area ids — the
    reference's Map insertion semantics (task.ts:97-100), made explicit
    and deterministic via the carried _pos column (SURVEY.md §7.4.3)."""
    w = Window.partitionBy("area_id").orderBy(F.col("_pos").desc())
    return (
        areas.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def caic_features(areas: DataFrame, forecasts: DataFrame) -> DataFrame:
    """Forecast products → styled GeoJSON-feature rows (pre-explode)."""
    # R6: type discriminator (task.ts:114).
    fc = forecasts.filter(F.col("type") == "avalancheforecast")
    # R7: non-empty guards (task.ts:137-138).
    fc = fc.filter(
        F.col("summary_days").isNotNull()
        & (F.size("summary_days") > 0)
        & F.col("rating_days").isNotNull()
        & (F.size("rating_days") > 0)
    )
    # R3 + R8: dedup'd areas broadcast, inner join on string-normalized key
    # (task.ts:97-100, 140-141; the reference casts with String(feat.id)).
    dim = dedup_areas_last_wins(areas).select(
        F.col("area_id").cast("string").alias("_dim_area_id"),
        "geometry_type",
        "geometry_json",
    )
    j = fc.join(
        F.broadcast(dim),
        fc["area_id"].cast("string") == dim["_dim_area_id"],
        "inner",
    )

    # R9: worst severity = min-over-ordinal across day-0 bands
    # (task.ts:116,143-146; day-0 only per SURVEY.md §2.B.4). Unknown
    # ratings rank as noRating (defined fallback, SURVEY.md §2.B.2).
    day0 = F.element_at("rating_days", 1)
    worst_rank = F.least(
        severity_rank(day0.getField("btl")),
        severity_rank(day0.getField("tln")),
        severity_rank(day0.getField("alp")),
    )
    sev_array = F.array(*[F.lit(s) for s in SEVERITY_ORDER])
    worst = F.element_at(sev_array, worst_rank.cast("int"))

    # R10-R12: dictionary lookups + styled projection + nested metadata
    # (task.ts:118-134, 148-169).
    label = F.element_at(_lit_map(SEVERITY_LABEL), worst)
    fill = F.element_at(_lit_map(SEVERITY_FILL), worst)
    return j.select(
        F.concat(F.lit("caic-"), F.col("area_id")).alias("id"),  # task.ts:149
        label.alias("callsign"),  # task.ts:152
        fill.alias("fill"),  # task.ts:153
        F.lit(FILL_OPACITY).alias("fill_opacity"),  # task.ts:154
        fill.alias("stroke"),  # task.ts:155 (stroke = fill color)
        F.lit(STROKE_OPACITY).alias("stroke_opacity"),  # task.ts:156
        F.coalesce(
            F.element_at("summary_days", 1).getField("content"), F.lit("No Remarks")
        ).alias("remarks"),  # task.ts:157 (coalesce = declared intent)
        # task.ts:158-167 — the reference's exact 7-field metadata object
        # (camelCase keys), serialized: a JSON string cell is scalar for the
        # driver canonicalizer and is re-nested at the GeoJSON sink.
        F.to_json(
            F.struct(
                F.col("forecaster").alias("forecaster"),
                F.col("issue_date_time").alias("issueDateTime"),
                F.col("expiry_date_time").alias("expiryDateTime"),
                F.col("is_translated").alias("isTranslated"),
                day0.getField("alp").alias("ratingAbove"),
                day0.getField("tln").alias("ratingNear"),
                day0.getField("btl").alias("ratingBelow"),
            )
        ).alias("metadata"),
        F.col("geometry_type"),
        F.col("geometry_json"),
    )


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


def explode_multi_geometries(features: DataFrame) -> DataFrame:
    """R13 + R14 (task.ts:171-186): Multi* geometries become one feature per
    part with `id = id + '-' + i` and the Multi prefix stripped; every other
    geometry passes through unchanged (a null geometry_json included).

    One pass, one posexplode: each row carries its parts as one
    array<string> — `[geometry_json]` for a non-Multi row, the per-part
    GeoJSON for a Multi* row, its coordinates parsed at the depth its
    geometry_type implies (SURVEY.md §1.4). A Multi* row whose coordinates
    are empty or unparsable has no parts and yields no row; a row with a
    null geometry_type matches no case and is dropped. Rows come out in
    input order, parts in coordinate order; consumers key by id or hash
    order-insensitively, so nothing depends on row order."""
    gtype = F.col("geometry_type")
    is_multi = gtype.isin(list(MULTI_COORDS))
    parts = F.when(~is_multi, F.array("geometry_json"))
    part_type = F.when(~is_multi, gtype)
    for kind, coords_schema in MULTI_COORDS.items():
        single_kind = F.lit(kind.replace("Multi", ""))  # task.ts:179
        coords = F.from_json(
            "geometry_json", f"struct<type:string,coordinates:{coords_schema}>"
        ).getField("coordinates")
        parts = parts.when(
            gtype == kind,
            F.transform(
                coords,
                lambda c: F.to_json(
                    F.struct(single_kind.alias("type"), c.alias("coordinates"))
                ),
            ),
        )
        part_type = part_type.when(gtype == kind, single_kind)

    exploded = features.select(
        "*", F.posexplode(parts).alias("_part_idx", "_part")
    )
    replaced = {
        "id": F.when(
            is_multi, F.concat(F.col("id"), F.lit("-"), F.col("_part_idx"))
        ).otherwise(F.col("id")),
        "geometry_type": part_type,
        "geometry_json": F.col("_part"),
    }
    return exploded.select(
        *[replaced.get(c, F.col(c)).alias(c) for c in features.columns]
    )


def caic_pipeline(areas: DataFrame, forecasts: DataFrame) -> DataFrame:
    """Full reference dataflow: features + conditional explode."""
    return explode_multi_geometries(caic_features(areas, forecasts))
