"""Focused scale probe for the round-9 wave operators: grid-blocked
Kendall discordance, star-contraction connected components, PQ
codebook+ADC, and histogram boosting.

Reuses tools/scale_probe.py's replication machinery. Expectation per
shape:
- kendall core: the two prefix ranks are range-shuffles (linear) and
  the same-block equi-joins do ~n^2/B comparisons — with fixed B=16
  the quadratic term grows, so the curve should bend upward past 10x
  (the B ~ sqrt(n) guidance exists precisely because of this; the
  probe MEASURES the bend instead of asserting it away).
- connected components: star contraction — round 1 linear in |E|,
  later rounds representative-scale; more replicas add disjoint
  subgraphs, so round count stays flat and total time ~linear.
- PQ core: assignment/LUT joins are broadcast-dim joins against the
  exploded coordinate stream — linear in vectors.
- boosted stumps: two scans per round (histogram + residual) — linear;
  the split search itself is domain-bounded (<= 61 candidates) and
  should stay flat.

Usage: python tools/scale_probe_wave9.py [factors...]  (default 1 10 30)
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from etl_caic_spark.operators.concomp import connected_components  # noqa: E402
from etl_caic_spark.session import get_spark  # noqa: E402
from etl_caic_spark.sources import load_table  # noqa: E402
from tools.scale_probe import SF_DIR, replicate, timeit  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    factors = [int(x) for x in sys.argv[1:]] or [1, 10, 30]
    spark = get_spark(app_name="scale-probe-w9")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    from etl_caic_spark.operators.prefix import with_global_order

    for factor in factors:
        cust = replicate(spark, "customer", factor, "c_custkey", 10_000_000)
        ev = replicate(spark, "events", factor, "event_id", 10_000_000)
        ev = ev.withColumn(
            "user_id",
            F.col("user_id")
            + (F.expr("event_id div 10000000")).cast("bigint") * 1000,
        )
        li = replicate(spark, "lineitem", factor, "l_orderkey", 100_000_000)
        emb = load_table(spark, SF_DIR, "embeddings")
        if factor > 1:
            emb = (
                emb.withColumn(
                    "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
                )
                .withColumn(
                    "vec_id",
                    F.col("vec_id") + F.col("_rep").cast("bigint") * 10_000_000,
                )
                .withColumn(
                    "embedding",
                    F.expr(
                        "transform(embedding, (x, i) ->"
                        " element_at(embedding,"
                        "   CAST((i + _rep) % size(embedding) AS INT) + 1))"
                    ),
                )
                .drop("_rep")
            )

        # -- kendall core: synthetic rev keeps the probe on the ranking +
        # grid-block machinery (the scale-relevant part), not the orders
        # groupBy that precedes it in the registered query
        def kendall():
            base = cust.select(
                "c_custkey",
                F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
                ((F.col("c_custkey") * 2654435761) % 1000000000)
                .cast("bigint")
                .alias("rev_cents"),
            )
            rx = with_global_order(base, ["bal_cents", "c_custkey"], rn_col="rx")
            ranked = with_global_order(
                rx, ["rev_cents", "c_custkey"], rn_col="ry"
            ).select("rx", "ry")
            n_row = ranked.agg(F.count("*").cast("bigint").alias("n"))
            blocked = ranked.crossJoin(F.broadcast(n_row)).select(
                "rx",
                "ry",
                F.expr("((rx - 1) * 16) div n").alias("bx"),
                F.expr("((ry - 1) * 16) div n").alias("by"),
            )
            blocked = blocked.localCheckpoint()
            ra, rb = blocked.alias("ra"), blocked.alias("rb")
            discord = (F.col("ra.rx") < F.col("rb.rx")) & (
                F.col("ra.ry") > F.col("rb.ry")
            )
            d2 = ra.join(rb, (F.col("ra.bx") == F.col("rb.bx")) & discord).agg(
                F.count("*").alias("d2")
            )
            noop(d2)

        # -- connected components over the residue-sparsified graph
        def cc():
            dst = (F.col("user_id") * 7 + F.col("event_id")) % 150
            edges = (
                ev.filter(
                    (F.col("event_id") % 37 == 0)
                    & (F.col("user_id") % 7 == dst % 7)
                )
                .select(
                    F.least(F.col("user_id"), dst).alias("a"),
                    F.greatest(F.col("user_id"), dst).alias("b"),
                )
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
            noop(connected_components(edges, driver_edge_cutoff=0))

        # -- PQ core: quantize, assign to 16 broadcast anchors, Lloyd
        # step, re-assign (the corpus-scale stages of sim_pq_adc)
        def pq():
            sub = emb.select(
                "vec_id", F.posexplode("embedding").alias("d", "xf")
            ).select(
                "vec_id",
                F.expr("d div 8").alias("s"),
                "d",
                F.round(F.col("xf").cast("double") * 1e6).cast("bigint").alias("x"),
            )
            anch16 = (
                sub.filter(F.col("vec_id") < 16)
                .select(
                    (F.col("vec_id") % 16).alias("k"), "s", "d",
                    F.col("x").alias("ax"),
                )
            )
            d1 = (
                sub.join(F.broadcast(anch16), ["s", "d"])
                .groupBy("vec_id", "s", "k")
                .agg(
                    F.sum((F.col("x") - F.col("ax")) * (F.col("x") - F.col("ax")))
                    .alias("dist")
                )
            )
            code1 = d1.groupBy("vec_id", "s").agg(
                F.min(F.struct("dist", "k")).getField("k").alias("k")
            )
            cent = (
                code1.join(sub, ["vec_id", "s"])
                .groupBy("s", "k", "d")
                .agg(
                    F.round(F.sum("x").cast("double") / F.count("*"))
                    .cast("bigint")
                    .alias("cx")
                )
            )
            d2 = (
                sub.join(F.broadcast(cent), ["s", "d"])
                .groupBy("vec_id", "s", "k")
                .agg(
                    F.sum((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")))
                    .alias("dist")
                )
            )
            code2 = d2.groupBy("vec_id", "s").agg(
                F.min(F.struct("dist", "k")).getField("k").alias("k")
            )
            noop(code2)

        # -- boosting: one full round of histogram split search +
        # residual update (the per-round unit cost)
        def boost():
            base = li.select(
                F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("t"),
                F.round(F.col("l_quantity")).cast("bigint").alias("f1"),
                F.round(F.col("l_discount") * 100).cast("bigint").alias("f2"),
            )
            from etl_caic_spark.plans.wave10c import _best_split

            best = _best_split(base)
            applied = base.crossJoin(F.broadcast(best))
            left = (
                (F.col("feature") == 1) & (F.col("f1") <= F.col("thr"))
            ) | ((F.col("feature") == 2) & (F.col("f2") <= F.col("thr")))
            res = applied.select(
                (
                    F.col("t")
                    - F.when(left, F.col("leaf_l")).otherwise(F.col("leaf_r"))
                ).alias("t")
            )
            noop(res)

        row = {
            "factor": factor,
            "kendall_grid_s": timeit(kendall),
            "concomp_s": timeit(cc),
            "pq_codebook_s": timeit(pq),
            "boost_round_s": timeit(boost),
        }
        print(json.dumps(row))

    spark.stop()


if __name__ == "__main__":
    main()
