"""Round-8 wave D: t-closeness, Adamic-Adar, chrF2, skyline."""

from __future__ import annotations

from etl_caic_spark.registry import all_specs

SPECS = all_specs()


def test_t_closeness_bounds_and_degenerate_group(spark, sf_dir):
    rows = SPECS["priv_t_closeness"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # EMD of two distributions over a 5-level ordinal chain is in [0, 1]
        assert 0 <= r["t_micro"] <= 1000000, r
        assert r["at_risk"] == (r["t_micro"] > 200000)
        assert r["n_grp"] >= 1


def test_t_closeness_zero_for_global_group(spark, sf_dir):
    # A QI grouping by a constant yields the global distribution -> t = 0.
    import pyspark.sql.functions as F

    from etl_caic_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    glob = orders.groupBy("o_orderpriority").count().collect()
    n = sum(r["count"] for r in glob)
    # EMD(global, global) is identically zero by the formula
    cum_c = cum_g = 0
    dsum = 0
    for r in sorted(glob, key=lambda r: r["o_orderpriority"]):
        cum_c += r["count"]
        cum_g += r["count"]
        dsum += abs(n * cum_c - n * cum_g)
    assert dsum == 0


def test_adamic_adar_excludes_existing_edges(spark, sf_dir):
    import pyspark.sql.functions as F

    from etl_caic_spark.sources import load_table

    out = SPECS["graph_adamic_adar"].fn(spark, sf_dir).collect()
    assert 0 < len(out) <= 50
    scores = [r["aa_micro"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # rebuild the edge set and assert no predicted pair is already an edge
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 37 == 0)
    dst = (F.col("user_id") * 7 + F.col("event_id")) % 150
    edges = {
        (r["a"], r["b"])
        for r in ev.select(
            F.least(F.col("user_id"), dst).alias("a"),
            F.greatest(F.col("user_id"), dst).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .collect()
    }
    for r in out:
        assert r["u"] < r["v"]
        assert (r["u"], r["v"]) not in edges
        assert r["n_common"] >= 1


def test_chrf_identity_algebra(spark, sf_dir):
    row = SPECS["eval_chrf_corpus"].fn(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    # clipped matches bounded by both sides' totals
    assert 0 < r["match2"] <= min(r["hyp2"], r["ref2"])
    assert 0 < r["match3"] <= min(r["hyp3"], r["ref3"])
    # F2 = 5m/(4r+h) is in (0, 1] scaled to micro
    assert 0 < r["chrf2_2_micro"] <= 1000000
    assert 0 < r["chrf2_3_micro"] <= 1000000
    # Spark round() is HALF_UP (Python's round is banker's): floor(x + .5)
    import math

    assert r["chrf2_micro"] == math.floor(
        (r["chrf2_2_micro"] + r["chrf2_3_micro"]) / 2 + 0.5
    )
    # 3-gram precision can't beat 2-gram on natural text
    assert r["chrf2_3_micro"] <= r["chrf2_2_micro"]


def test_chrf_keeps_order_missing_from_every_reference(spark, tmp_path):
    """References too short for a 3-gram: the 3-gram order still reports
    its hypothesis total (ref total and score null), as the oracle does."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_caic_spark.oracle import create_views, mismatch

    pq.write_table(
        pa.table({"doc_id": pa.array([0, 1, 2, 3], pa.int64()),
                  "text": ["ab", "abc", "xy", "xyz"]}),
        tmp_path / "documents.parquet",
    )
    spec = SPECS["eval_chrf_corpus"]
    df = spec.fn(spark, str(tmp_path))
    rows = df.collect()
    con = create_views(duckdb.connect(), tmp_path, ["documents"])
    assert mismatch(con, spec.oracle, df, rows) is None
    con.close()
    got = rows[0].asDict()
    assert got["hyp3"] == 2 and got["match3"] == 0
    assert got["ref3"] is None and got["chrf2_3_micro"] is None
    assert (got["match2"], got["hyp2"], got["ref2"]) == (2, 4, 2)


def test_skyline_is_exactly_the_nondominated_set(spark, sf_dir):
    from etl_caic_spark.sources import load_table

    out = SPECS["analytics_skyline"].fn(spark, sf_dir).collect()
    assert out
    sky = {(r["price"], r["size"]) for r in out}
    pts = {
        (r["price"], r["sz"])
        for r in load_table(spark, sf_dir, "part")
        .selectExpr("p_retailprice AS price", "p_size AS sz")
        .distinct()
        .collect()
    }

    def dominated(p, universe):
        return any(
            q[0] <= p[0] and q[1] >= p[1] and q != p
            for q in universe
            if q[0] < p[0] or q[1] > p[1]
        )

    # brute-force oracle over the distinct cells
    expect = {p for p in pts if not dominated(p, pts)}
    assert sky == expect
