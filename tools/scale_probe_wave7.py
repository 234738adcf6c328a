"""Focused scale probe for the wave-6/7 operators: distributed SNM,
DBSCAN core clustering, and quantile normalization.

Reuses the replication machinery of tools/scale_probe.py (shifted keys,
per-replica perturbation) but times only the three newest operator
shapes, so it can run in minutes alongside a dev loop.

Usage: python tools/scale_probe_wave7.py [factors...]  (default 1 10 30)
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window as W  # noqa: E402

from etl_caic_spark.operators.concomp import connected_components  # noqa: E402
from etl_caic_spark.operators.geo import grid_neighbor_pairs  # noqa: E402
from etl_caic_spark.operators.snm import sorted_neighborhood_pairs  # noqa: E402
from etl_caic_spark.session import get_spark  # noqa: E402
from etl_caic_spark.sources import load_table  # noqa: E402
from tools.scale_probe import SF_DIR, replicate, timeit  # noqa: E402


def main() -> None:
    factors = [int(x) for x in sys.argv[1:]] or [1, 10, 30]
    spark = get_spark(app_name="scale-probe-w7")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for factor in factors:
        ev = replicate(spark, "events", factor, "event_id", 10_000_000)
        # Parts replicate with a per-replica name suffix so replicas are
        # DISTINCT records (same-name replicas would all match each other
        # and measure duplicate blowup, not corpus growth).
        part = load_table(spark, SF_DIR, "part")
        if factor > 1:
            part = (
                part.withColumn(
                    "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
                )
                .withColumn(
                    "p_partkey",
                    F.col("p_partkey") + F.col("_rep").cast("bigint") * 10_000_000,
                )
                .withColumn(
                    "p_name",
                    F.concat_ws(" ", "p_name", F.col("_rep").cast("string")),
                )
                .drop("_rep")
                .localCheckpoint()
            )
        emb = load_table(spark, SF_DIR, "embeddings")
        if factor > 1:
            # Offset each replica into its own unit box: point DENSITY
            # stays constant, so DBSCAN neighbor volume grows linearly.
            emb = (
                emb.withColumn(
                    "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
                )
                .withColumn(
                    "vec_id",
                    F.col("vec_id") + F.col("_rep").cast("bigint") * 10_000_000,
                )
                .drop("_rep")
                .localCheckpoint()
            )

        r = part.select(
            "p_partkey",
            "p_name",
            F.concat(
                F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)),
                F.lit("|"),
                F.col("p_name"),
            ).alias("sort_key"),
        )
        pts = emb.select(
            "vec_id",
            (
                F.element_at("embedding", 1).cast("double")
                + (F.col("vec_id") / 10_000_000).cast("bigint")
            ).alias("x"),
            F.element_at("embedding", 2).cast("double").alias("y"),
        )

        def dbscan_core():
            pairs = grid_neighbor_pairs(pts, "vec_id", "x", "y", eps=0.05).select(
                "id_a", "id_b"
            ).localCheckpoint()
            deg = (
                pairs.select(F.col("id_a").alias("v"))
                .unionAll(pairs.select(F.col("id_b").alias("v")))
                .groupBy("v")
                .agg(F.count("*").alias("n"))
            )
            core = deg.filter(F.col("n") >= 3).select("v")
            edges = (
                pairs.join(core.select(F.col("v").alias("id_a")), "id_a")
                .join(core.select(F.col("v").alias("id_b")), "id_b")
                .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
            )
            return core.join(connected_components(edges), "v", "left").select(
                "v", F.coalesce("component", F.col("v")).alias("c")
            )

        def qnorm():
            s = ev.filter(F.col("event_id") % 4 == 0).select(
                "event_id", F.col("event_type").alias("source"), "value"
            )
            ranked = s.select(
                "*",
                F.row_number()
                .over(W.partitionBy("source").orderBy("value", "event_id"))
                .cast("bigint")
                .alias("r"),
                F.count("*")
                .over(W.partitionBy("source"))
                .cast("bigint")
                .alias("n_s"),
            )
            pooled = s.select(
                F.col("value").alias("pv"),
                F.row_number()
                .over(W.orderBy("value", "event_id"))
                .cast("bigint")
                .alias("idx"),
            )
            tot = s.agg(F.count("*").cast("bigint").alias("n_pool"))
            return (
                ranked.crossJoin(F.broadcast(tot))
                .withColumn(
                    "idx", F.expr("(r * n_pool + n_s - 1) div n_s").cast("bigint")
                )
                .join(pooled, "idx")
            )

        timings = {
            "rows_part": part.count(),
            "rows_events": ev.count(),
            "rows_emb": emb.count(),
            "snm_distributed": timeit(
                lambda: noop(
                    sorted_neighborhood_pairs(
                        r, ["p_partkey", "p_name"], "sort_key", w=3,
                        num_partitions=8,
                    )
                )
            ),
            "dbscan_core": timeit(lambda: noop(dbscan_core())),
            "quantile_normalize": timeit(lambda: noop(qnorm())),
        }
        print(json.dumps({"factor": factor, **timings}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
