"""Sinks (reference R15, task.ts:189 submit()).

The reference POSTs one FeatureCollection per run to the CloudTAK layer
endpoint. The engine's equivalents:

- write_parquet / write_json: durable columnar/row sinks (df.write);
  idempotent because output ids are deterministic (SURVEY.md §2.B.8) and
  mode="overwrite" replaces the previous snapshot atomically per path.
- submit_feature_collection: the structural analogue of submit() — collects
  a *bounded* styled-feature DataFrame into one GeoJSON FeatureCollection
  dict and hands it to a transport callable. Bounded by construction: the
  reference's payload is O(10²) features; never call this on a fact table
  (guarded by a row limit). Rows are collected as Arrow batches
  (toArrow), not as pickled Row objects.
- foreach_batch_submit: the streaming form — foreachBatch(submit) for
  micro-batch pushes (Trigger.AvailableNow replays = the reference's
  scheduled re-runs).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame

Transport = Callable[[str], None]


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def to_feature_collection(df: DataFrame, max_rows: int = 100_000) -> dict:
    """Styled-feature rows → one GeoJSON FeatureCollection dict (driver-side;
    guarded against unbounded collects). Rows arrive as Arrow record
    batches and become plain dicts in column order: struct cells as dicts,
    arrays as lists, nulls as None."""
    rows = df.limit(max_rows + 1).toArrow().to_pylist()
    if len(rows) > max_rows:
        raise ValueError(
            f"feature collection exceeds {max_rows} rows; use write_parquet"
        )
    features = []
    for d in rows:
        geometry = json.loads(d.pop("geometry_json"))
        d.pop("geometry_type", None)
        fid = d.pop("id")
        # The pipeline carries metadata as a JSON string (scalar cells for
        # the correctness driver); the GeoJSON payload re-nests it to match
        # the reference's properties.metadata object (task.ts:158-167).
        if isinstance(d.get("metadata"), str):
            d["metadata"] = json.loads(d["metadata"])
        features.append(
            {
                "id": fid,
                "type": "Feature",
                "properties": d,
                "geometry": geometry,
            }
        )
    return {"type": "FeatureCollection", "features": features}


def submit_feature_collection(
    df: DataFrame, transport: Transport, max_rows: int = 100_000
) -> int:
    """POST-shaped submit (transport receives the serialized payload);
    returns the feature count."""
    fc = to_feature_collection(df, max_rows)
    transport(json.dumps(fc))
    return len(fc["features"])


def foreach_batch_submit(transport: Transport):
    """foreachBatch hook: submit each micro-batch as a FeatureCollection."""

    def _submit(batch_df: DataFrame, epoch_id: int) -> None:
        submit_feature_collection(batch_df, transport)

    return _submit
