"""Custom stateful operator + streamed CAIC pipeline.

1. applyInPandasWithState running totals over an availableNow replay must
   equal the batch groupBy (final state per key).
2. The flagship CAIC pipeline runs as Structured Streaming — forecasts as
   a file stream joined to the static areas dim, explode included, results
   submitted per micro-batch via foreachBatch — and must produce exactly
   the batch pipeline's features (the reference's scheduled-pull mode,
   task.ts:57, as a stream)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_caic_spark.operators.caic import caic_pipeline
from etl_caic_spark.schemas import FORECASTS_SCHEMA
from etl_caic_spark.sources import load_table
from etl_caic_spark.sources.caic_fixtures import generate_areas, generate_forecasts
from etl_caic_spark.sources.sinks import foreach_batch_submit
from etl_caic_spark.streaming import windows as SW
from etl_caic_spark.streaming.stateful import running_user_totals
from etl_caic_spark.util import scratch_dir


def test_stateful_running_totals_match_batch(spark, sf_dir):
    out = SW.run_stream_to_table(
        spark, running_user_totals(SW.read_events_stream(spark, sf_dir)), "update"
    )
    # update mode may emit once per (batch, key); the last row per key is
    # the final state — with availableNow on one file there is one batch.
    got = {(r["user_id"]): (r["n"], round(r["total"], 6)) for r in out.collect()}
    ev = load_table(spark, sf_dir, "events")
    expected = {
        r["user_id"]: (r["n"], round(r["total"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == expected


def test_caic_pipeline_streaming_matches_batch(spark):
    areas = generate_areas(spark, n=40, seed=42)
    forecasts = generate_forecasts(spark, n_areas=40, per_area=1.5, seed=43)

    fdir = scratch_dir("caic_forecasts_")
    forecasts.write.mode("overwrite").parquet(fdir)

    stream_forecasts = (
        spark.readStream.schema(FORECASTS_SCHEMA).format("parquet").load(fdir)
    )
    streamed = caic_pipeline(areas, stream_forecasts)

    payloads: list[str] = []
    q = (
        streamed.writeStream.foreachBatch(foreach_batch_submit(payloads.append))
        .option("checkpointLocation", scratch_dir("ckpt_caic_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed_features = {}
    for p in payloads:
        for f in json.loads(p)["features"]:
            streamed_features[(f["id"], f["properties"]["metadata"]["issueDateTime"],
                              f["properties"]["remarks"])] = f["geometry"]

    batch = caic_pipeline(areas, spark.read.parquet(fdir)).collect()
    batch_features = {
        (r["id"], json.loads(r["metadata"])["issueDateTime"], r["remarks"]): json.loads(
            r["geometry_json"]
        )
        for r in batch
    }
    assert streamed_features == batch_features
    assert len(batch_features) > 0
