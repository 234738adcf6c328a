"""Deterministic CAIC-shaped fixtures (FIXTURES.md Part B): synthetic
areas / forecasts tables mirroring the reference's two input payloads
(reference task.ts:8-52), seeded (seed=42) so golden tests are stable.

Generation spec highlights:
- ~5% duplicate area ids at different positions → exercises last-write-wins
  build-side dedup (task.ts:97-100);
- ~30% MultiPolygon (2-4 parts) → exercises the conditional explode
  (task.ts:171-183);
- ~20% non-forecast product types (filter fodder, task.ts:114);
- ~10% dangling area FKs (inner-join drops, task.ts:140-141);
- ~10% null/empty days arrays (guard fodder, task.ts:137-138);
- ~2% unknown rating strings (defined-fallback semantics, SURVEY.md §2.B.2).
"""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import DataFrame, SparkSession

from etl_caic_spark.schemas import AREAS_SCHEMA, FORECASTS_SCHEMA
from etl_caic_spark.sources.rest import decode_records, records_to_arrow

RATINGS = ["extreme", "high", "considerable", "moderate", "low", "noRating"]
FORECASTERS = ["akimbo", "bluebird", "cornice", "divot"]


def _ring(rng: random.Random, cx: float, cy: float) -> list[list[float]]:
    pts = []
    for k in range(5):
        ang = k / 5.0
        pts.append(
            [
                round(cx + 0.1 * (1 + rng.random()) * (1 if k % 2 else -1) * ang, 6),
                round(cy + 0.1 * (1 + rng.random()) * ang, 6),
            ]
        )
    pts.append(pts[0])
    return pts


def area_rows(n: int = 60, seed: int = 42) -> list[tuple]:
    """Pure-Python area fixture rows (no Spark) — shared by the Spark
    generator and the parquet materializer so both engines see the SAME
    bytes."""
    rng = random.Random(seed)
    rows = []
    pos = 0
    for i in range(n):
        area_id = f"A{i:03d}"
        cx, cy = -106.0 + rng.random() * 4, 38.0 + rng.random() * 3
        if rng.random() < 0.7:
            geom_type = "Polygon"
            coords = [_ring(rng, cx, cy)]
        else:
            geom_type = "MultiPolygon"
            coords = [
                [_ring(rng, cx + dp * 0.5, cy)] for dp in range(rng.randint(2, 4))
            ]
        rows.append(
            (
                area_id,
                pos,
                geom_type,
                json.dumps({"type": geom_type, "coordinates": coords}),
                json.dumps({"name": f"Zone {i}", "elev": rng.randint(2500, 4000)}),
            )
        )
        pos += 1
        if rng.random() < 0.05:  # duplicate id, later position → must win
            rows.append(
                (
                    area_id,
                    pos,
                    "Polygon",
                    json.dumps({"type": "Polygon", "coordinates": [_ring(rng, cx, cy)]}),
                    json.dumps({"name": f"Zone {i} v2", "elev": rng.randint(2500, 4000)}),
                )
            )
            pos += 1
    return rows


def _records(rows: list[tuple], schema) -> list[dict]:
    """Fixture rows as the JSON records a REST snapshot would carry."""
    return [dict(zip(schema.names, r)) for r in rows]


def generate_areas(spark: SparkSession, n: int = 60, seed: int = 42) -> DataFrame:
    return decode_records(
        spark, _records(area_rows(n, seed), AREAS_SCHEMA), AREAS_SCHEMA
    )


def forecast_rows(
    n_areas: int = 60, per_area: float = 2.0, seed: int = 43
) -> list[tuple]:
    """Pure-Python forecast fixture rows (no Spark)."""
    rng = random.Random(seed)
    rows = []
    pid = 0
    for i in range(int(n_areas * per_area)):
        if rng.random() < 0.1:
            area_id = f"A{900 + rng.randint(0, 50):03d}"  # dangling FK
        else:
            area_id = f"A{rng.randint(0, n_areas - 1):03d}"
        ptype = "avalancheforecast" if rng.random() < 0.8 else rng.choice(
            ["weathersummary", "watchwarning", "specialproduct"]
        )
        n_days = rng.randint(0, 3)
        if rng.random() < 0.1:
            summary_days = rng.choice([None, []])
        else:
            summary_days = [
                {"date": f"2026-02-{d+1:02d}", "content": f"summary {pid} day {d}"}
                for d in range(max(n_days, 1))
            ]
        if rng.random() < 0.1:
            rating_days = rng.choice([None, []])
        else:

            def rating(rng=rng):
                if rng.random() < 0.02:
                    return "unknownRating"
                return rng.choice(RATINGS)

            rating_days = [
                {"alp": rating(), "tln": rating(), "btl": rating()}
                for _ in range(max(n_days, 1))
            ]
        rows.append(
            (
                f"P{pid:05d}",
                ptype,
                area_id,
                f"Public Area {area_id}",
                rng.choice(FORECASTERS),
                f"2026-02-01T{rng.randint(0,23):02d}:00:00Z",
                f"2026-02-02T{rng.randint(0,23):02d}:00:00Z",
                rng.random() < 0.5,
                summary_days,
                rating_days,
            )
        )
        pid += 1
    return rows


def generate_forecasts(
    spark: SparkSession, n_areas: int = 60, per_area: float = 2.0, seed: int = 43
) -> DataFrame:
    return decode_records(
        spark,
        _records(forecast_rows(n_areas, per_area, seed), FORECASTS_SCHEMA),
        FORECASTS_SCHEMA,
    )


#: Fixed, version-tagged fixture dataset paths — bump the tag when the
#: generation spec changes so stale files can never shadow new semantics.
CAIC_FIXTURE_TAG = "caic_fixtures_v1"


def caic_fixture_paths() -> tuple[str, str]:
    from etl_caic_spark.util import scratch_path

    base = scratch_path(CAIC_FIXTURE_TAG)
    return os.path.join(base, "areas.parquet"), os.path.join(
        base, "forecasts.parquet"
    )


def ensure_caic_fixture_parquet() -> tuple[str, str]:
    """Materialize the deterministic fixtures as parquet (pyarrow, no Spark)
    so the DuckDB oracle and the Spark query read the SAME files — this is
    what upgrades caic_pipeline from rows-only to a full hash-matched
    driver check. Idempotent; atomic via tmp+rename so a concurrent oracle
    run never sees a half-written file."""
    import pyarrow.parquet as pq

    areas_path, forecasts_path = caic_fixture_paths()
    base = os.path.dirname(areas_path)
    if os.path.exists(areas_path) and os.path.exists(forecasts_path):
        return areas_path, forecasts_path
    os.makedirs(base, exist_ok=True)

    # The same Arrow decode (and so the same to_arrow_schema types) as the
    # REST source and generate_areas / generate_forecasts.
    areas = records_to_arrow(_records(area_rows(), AREAS_SCHEMA), AREAS_SCHEMA)
    forecasts = records_to_arrow(
        _records(forecast_rows(), FORECASTS_SCHEMA), FORECASTS_SCHEMA
    )
    for tbl, path in ((areas, areas_path), (forecasts, forecasts_path)):
        tmp = path + f".tmp{os.getpid()}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
    return areas_path, forecasts_path
