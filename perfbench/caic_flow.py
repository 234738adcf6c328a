"""One reference-sized CAIC invocation: fetch the area and forecast
snapshots over an in-memory transport, build the pipeline, submit the
FeatureCollection.

Payloads come from ``sources.caic_fixtures.area_rows`` /
``forecast_rows`` (60 areas, 2 products per area), seeded from the
benchmark seed, so each payload is the shape of one scheduled run of the
reference. The oracle check writes each payload as parquet and runs the
registered ``caic_pipeline`` DuckDB twin over it.
"""

from __future__ import annotations

import json
import os

from etl_caic_spark.schemas import AREAS_SCHEMA, FORECASTS_SCHEMA
from etl_caic_spark.sources.caic_fixtures import area_rows, forecast_rows

N_AREAS = 60
PRODUCTS_PER_AREA = 2.0
AREAS_URL = "mem://caic/areas/{}"
FORECASTS_URL = "mem://caic/forecasts/{}"


def _engine():
    """The engine calls of one invocation, looked up when the op runs:
    every set-up re-imports the engine, and the timed ops must call the
    modules that set-up loaded."""
    from etl_caic_spark.operators.caic import caic_pipeline
    from etl_caic_spark.sources.rest import fetch_json_snapshot
    from etl_caic_spark.sources.sinks import submit_feature_collection

    return fetch_json_snapshot, caic_pipeline, submit_feature_collection


def payload_seeds(seed: int, count: int) -> list[tuple[int, int]]:
    """(area seed, forecast seed) for each payload of a run."""
    return [(seed * 1000 + 2 * i, seed * 1000 + 2 * i + 1) for i in range(count)]


class Payload:
    """One snapshot pair: the rows and the JSON bodies the transport serves."""

    def __init__(self, area_seed: int, forecast_seed: int):
        self.areas = area_rows(N_AREAS, area_seed)
        self.forecasts = forecast_rows(N_AREAS, PRODUCTS_PER_AREA, forecast_seed)
        a_names = AREAS_SCHEMA.fieldNames()
        f_names = FORECASTS_SCHEMA.fieldNames()
        self.areas_json = json.dumps(
            {
                "type": "FeatureCollection",
                "features": [dict(zip(a_names, r)) for r in self.areas],
            }
        )
        self.forecasts_json = json.dumps([dict(zip(f_names, r)) for r in self.forecasts])

    @property
    def nbytes(self) -> int:
        return len(self.areas_json) + len(self.forecasts_json)

    def write_parquet(self, out_dir: str) -> tuple[str, str]:
        """The payload as the two parquet files the oracle twin reads."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(out_dir, exist_ok=True)
        a = list(zip(*self.areas))
        areas = pa.table(
            {
                "area_id": pa.array(a[0], pa.string()),
                "_pos": pa.array(a[1], pa.int32()),
                "geometry_type": pa.array(a[2], pa.string()),
                "geometry_json": pa.array(a[3], pa.string()),
                "properties_json": pa.array(a[4], pa.string()),
            }
        )
        f = list(zip(*self.forecasts))
        summary_t = pa.list_(pa.struct([("date", pa.string()), ("content", pa.string())]))
        rating_t = pa.list_(
            pa.struct([("alp", pa.string()), ("tln", pa.string()), ("btl", pa.string())])
        )
        cols = FORECASTS_SCHEMA.fieldNames()
        types = [pa.string()] * 7 + [pa.bool_(), summary_t, rating_t]
        forecasts = pa.table(
            {c: pa.array(v, t) for c, v, t in zip(cols, f, types)}
        )
        paths = os.path.join(out_dir, "areas.parquet"), os.path.join(
            out_dir, "forecasts.parquet"
        )
        pq.write_table(areas, paths[0])
        pq.write_table(forecasts, paths[1])
        return paths


class Invocation:
    """Callable op over one payload. ``submitted`` keeps every body the
    sink transport received, for the FeatureCollection id check."""

    def __init__(self, index: int, payload: Payload):
        self.index = index
        self.name = f"caic_{index}"
        self.payload = payload
        self.submitted: list[str] = []
        self._bodies = {
            AREAS_URL.format(index): payload.areas_json,
            FORECASTS_URL.format(index): payload.forecasts_json,
        }

    def _get(self, url: str) -> str:
        return self._bodies[url]

    def fetch(self, spark, fetch_json_snapshot):
        areas = fetch_json_snapshot(
            spark, AREAS_URL.format(self.index), AREAS_SCHEMA,
            record_path="features", transport=self._get,
        )
        forecasts = fetch_json_snapshot(
            spark, FORECASTS_URL.format(self.index), FORECASTS_SCHEMA,
            transport=self._get,
        )
        return areas, forecasts

    def run(self, spark, specs, trace=None, on_built=None):
        """fetch x2 -> caic_pipeline -> submit; returns features submitted.
        ``on_built`` (warm pass only) receives the pipeline's frame before
        it is submitted."""
        fetch, pipeline, submit = _engine()
        if trace is None:
            feats = pipeline(*self.fetch(spark, fetch))
            if on_built is not None:
                on_built(feats)
            return submit(feats, self.submitted.append)
        tracer, op = trace
        with tracer.layer(op, "sources.fetch") as s:
            areas, forecasts = self.fetch(spark, fetch)
            s.attrs["payload_bytes"] = self.payload.nbytes
        with tracer.layer(op, "operators.build"):
            feats = pipeline(areas, forecasts)
        with tracer.layer(op, "sinks.submit") as s:
            s.attrs["features"] = submit(feats, self.submitted.append)
        return s.attrs["features"]


def submitted_ids(body: str) -> list[str]:
    return sorted(f["id"] for f in json.loads(body)["features"])
