"""Focused scale probe for the round-10 work: pointer-doubling
connected components on HIGH-DIAMETER graphs, and the rewritten
win_pareto_cut prefix construction.

Expectation per shape:
- chain CC: a single path of n nodes is the adversarial regime the
  round-10 fix targets — the unshortcut star contraction needed n-1
  rounds here (and silently returned wrong labels past the 64-round
  cap); with per-round pointer doubling the first min step collapses
  the whole chain through ~log2(n) representative-scale self-joins, so
  wall time should grow ~log(n), i.e. a nearly FLAT curve across
  10x/30x chain lengths. The probe also re-checks the labels (every
  node must land on component 0) so it is a correctness probe at
  scales pytest never touches.
- event-graph CC: the wave9 probe's low-diameter shape, re-run under
  the doubling variant — flat round count, ~linear time, proving the
  shortcut did not tax the common case.
- pareto prefix: the part-level rollup plus with_global_order is one
  range shuffle + bounded O(P) collects — ~linear in lineitem, no
  single-partition window at any factor.

Usage: python tools/scale_probe_wave10.py [factors...] (default 1 10 30)
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from etl_caic_spark.operators.concomp import connected_components  # noqa: E402
from etl_caic_spark.operators.prefix import with_global_order  # noqa: E402
from etl_caic_spark.session import get_spark  # noqa: E402
from tools.scale_probe import SF_DIR, replicate, timeit  # noqa: E402

_CHAIN_BASE = 20_000  # nodes at factor 1


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    factors = [int(x) for x in sys.argv[1:]] or [1, 10, 30]
    spark = get_spark(app_name="scale-probe-w10")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    for factor in factors:
        n = _CHAIN_BASE * factor

        def chain_cc():
            # one path of n nodes, ids scrambled by a bijection
            # (gcd(97, n)=1 for our n) so labels can't ride a
            # monotone id layout
            ids = spark.range(n).select(
                ((F.col("id") * 97) % n).alias("a"),
                (((F.col("id") + 1) * 97) % n).alias("b"),
            ).where(F.col("id") < n - 1)
            edges = ids.select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
            comp = connected_components(edges, driver_edge_cutoff=0)
            bad = comp.where(F.col("component") != 0).count()
            assert bad == 0, f"chain CC wrong labels: {bad} of {n}"

        ev = replicate(spark, "events", factor, "event_id", 10_000_000)
        ev = ev.withColumn(
            "user_id",
            F.col("user_id")
            + (F.expr("event_id div 10000000")).cast("bigint") * 1000,
        )

        def event_cc():
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

        li = replicate(spark, "lineitem", factor, "l_orderkey", 100_000_000)

        def pareto():
            ranked = li.groupBy("l_partkey").agg(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("rev_cents")
            )
            total = ranked.agg(
                F.sum("rev_cents").cast("bigint").alias("total_cents")
            )
            cum = with_global_order(
                ranked.withColumn("neg_cents", -F.col("rev_cents")),
                ["neg_cents", "l_partkey"],
                rn_col="rk",
                cumsum_cols={"cum_cents": "rev_cents"},
            ).crossJoin(F.broadcast(total))
            noop(
                cum.where(
                    (F.col("cum_cents") - F.col("rev_cents")) * 5
                    < F.col("total_cents") * 4
                ).select("l_partkey", "rk", "rev_cents", "cum_cents")
            )

        row = {
            "factor": factor,
            "chain_nodes": n,
            "chain_cc_s": timeit(chain_cc),
            "event_cc_s": timeit(event_cc),
            "pareto_prefix_s": timeit(pareto),
        }
        print(json.dumps(row))

    spark.stop()


if __name__ == "__main__":
    main()
