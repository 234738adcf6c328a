"""Round-13 per-leg timing probe for corpus_curation_pipeline (r12 verdict
ask #2: the only query that regressed on BOTH bench axes, 3.33 -> ~4.8-5.0 s
with stall-retries). Times each composed leg in isolation at sf0.1, then the
full pipeline, min-of-N warm, so the inflated leg is identifiable."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_caic_spark.operators import dedup as D  # noqa: E402
from etl_caic_spark.operators.concomp import dedup_groups  # noqa: E402
from etl_caic_spark.operators.text_analysis import (  # noqa: E402
    quality_features,
    repetition_signals,
)
from etl_caic_spark.session import get_spark  # noqa: E402
from etl_caic_spark.sources import load_table  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(os.environ.get("PROBE_RUNS", "3"))


def sink(df):
    df.write.format("noop").mode("overwrite").save()


def timeit(label, fn):
    best = float("inf")
    for _ in range(N):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    print(f"{label:45s} {best:7.3f} s (min of {N})", flush=True)
    return best


def corpus(spark):
    d = load_table(spark, SF, "documents").select("doc_id", "text", "lang", "source")
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source"
    )
    return d.unionByName(dups)


def main():
    spark = get_spark(app_name="probe-curation")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    c = corpus(spark)
    sink(c)  # warm the scan

    # Leg 1: exact dedup + join + localCheckpoint
    def leg1():
        kept1 = D.exact_dedup(c, "doc_id", "text").select(F.col("keep_id").alias("doc_id"))
        c1 = c.join(kept1, "doc_id").localCheckpoint()
        return c1

    t1 = timeit("leg1 exact_dedup+join+ckpt", lambda: leg1())
    c1 = leg1()

    # Leg 2a: jaccard pairs
    def leg2a():
        sink(
            D.ngram_jaccard_pairs(
                c1, "doc_id", "text", ["lang", "source"], k=3, threshold=0.5,
                max_shingle_df=20,
            )
        )

    timeit("leg2a ngram_jaccard_pairs", leg2a)
    pairs = D.ngram_jaccard_pairs(
        c1, "doc_id", "text", ["lang", "source"], k=3, threshold=0.5, max_shingle_df=20
    ).localCheckpoint()

    # Leg 2b: connected components on precomputed pairs
    timeit(
        "leg2b dedup_groups(ckpt pairs)",
        lambda: sink(dedup_groups(c1.select("doc_id"), pairs, "doc_id")),
    )

    # Leg 3: quality gate alone on c1
    timeit(
        "leg3 quality_features",
        lambda: sink(
            c1.select(
                "doc_id", quality_features(F.col("text"))["quality_score"].alias("q")
            )
        ),
    )
    # Leg 4: repetition signals alone on c1
    timeit(
        "leg4 repetition_signals",
        lambda: sink(
            repetition_signals(c1, "doc_id", "text", include_bigrams=False).select(
                "doc_id", "top_word_frac"
            )
        ),
    )

    # Full pipeline (registered query, cold-composed each run)
    from etl_caic_spark.plans import REGISTRY

    spec = REGISTRY["corpus_curation_pipeline"]
    timeit("FULL corpus_curation_pipeline", lambda: sink(spec.fn(spark, SF)))
    spark.stop()


if __name__ == "__main__":
    main()
