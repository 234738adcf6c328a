"""r16 probe: where do sim_pq_adc / eval_pq_recall spend their time?

Times each blocking piece of pq_shortlist_frames in isolation on a
warmed session (noop sink / forced materialization), labeled in the job
description. Measurement-only; not part of the bench path.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_caic_spark.registry import all_specs  # noqa: E402
from etl_caic_spark.session import get_spark  # noqa: E402
from etl_caic_spark.sources import load_table  # noqa: E402


def t(label, fn):
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(f"{label:40s} {dt:7.3f}s", flush=True)
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="pq-profile")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    from etl_caic_spark.plans import wave10a as W

    emb = load_table(spark, sf_dir, "embeddings")
    print("embeddings rows:", emb.count(), "dims:", len(emb.first()["embedding"]))

    for rep in range(2):
        print(f"--- rep {rep} ---")
        spark.sparkContext.setJobDescription("pq: sub checkpoint")
        sub = t("sub posexplode+checkpoint", lambda: (
            emb.select("vec_id", F.posexplode("embedding").alias("d", "xf"))
            .select(
                "vec_id",
                F.expr(f"d div {W._PQ_SUBDIM}").alias("s"),
                "d",
                F.round(F.col("xf").cast("double") * 1e6).cast("bigint").alias("x"),
            )
            .localCheckpoint()
        ))
        # full pipeline pieces, each forced with noop
        sub2, q, short = W.pq_shortlist_frames(spark, sf_dir)
        spark.sparkContext.setJobDescription("pq: shortlist only")
        t("shortlist (full chain to short)", lambda: noop(short))
        spark.sparkContext.setJobDescription("pq: sim_pq_adc full")
        t("sim_pq_adc full", lambda: noop(all_specs()["sim_pq_adc"].fn(spark, sf_dir)))
        spark.sparkContext.setJobDescription("pq: eval_pq_recall full")
        t("eval_pq_recall full", lambda: noop(all_specs()["eval_pq_recall"].fn(spark, sf_dir)))
    spark.stop()


if __name__ == "__main__":
    main()
