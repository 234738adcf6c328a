"""tools/scale_probe.py's replication: a scaled sf directory is complete
(every table reads through load_table's declared-schema check), fact rows
multiply with unique keys, dimensions are shared, and replicas are
distinct rows. Plus the growth-exponent fit it reports."""

from __future__ import annotations

import os
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_caic_spark.sources import load_table  # noqa: E402
from tools.scale_probe import DIMS, FACTS, build_scaled_dir, slope  # noqa: E402

BASE = "/root/testdata/sf0.001"


def test_scaled_dir_is_complete_and_replicas_distinct(spark):
    out = build_scaled_dir(spark, BASE, 2)
    assert sorted(os.listdir(out)) == sorted(
        f"{t}.parquet" for t in (*FACTS, *DIMS)
    )
    for name, (key, _shift) in FACTS.items():
        base = load_table(spark, BASE, name)
        scaled = load_table(spark, out, name)
        assert scaled.count() == 2 * base.count(), name
        # shifted keys never collide across replicas (lineitem repeats
        # l_orderkey per line, so compare distinct counts)
        n_keys = base.select(key).distinct().count()
        assert scaled.select(key).distinct().count() == 2 * n_keys, name
    for name in DIMS:
        assert (
            load_table(spark, out, name).count()
            == load_table(spark, BASE, name).count()
        )
    # replica 1 of each document carries a rotated alphabet
    shift = FACTS["documents"][1]
    docs = load_table(spark, out, "documents")
    pairs = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + shift)
        .select(F.col("a.text").alias("a"), F.col("b.text").alias("b"))
    )
    assert pairs.count() == load_table(spark, BASE, "documents").count()
    assert pairs.filter("a = b AND a RLIKE '[a-z0-9]'").count() == 0
    # and every embedding replica is a distinct vector
    emb = load_table(spark, out, "embeddings")
    assert emb.select("embedding").distinct().count() == emb.select(
        "embedding"
    ).where(F.col("vec_id") < FACTS["embeddings"][1]).distinct().count() * 2


def test_slope_is_the_log_log_growth_exponent():
    assert slope([1, 2, 4], [0.5, 2.0, 8.0]) == 2.0
    assert slope([1, 10, 30], [1.0, 10.0, 30.0]) == 1.0
    assert slope([1, 10], [3.0, 3.0]) == 0.0
    assert slope([10], [1.0]) is None
