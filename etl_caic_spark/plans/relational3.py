"""Third wave (milestone M8): file-sink roundtrip, correlated subqueries,
array set operations, extended date functions, TPC-H-shaped multi-join
headline queries, and connected-components dedup groups."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caic_spark.operators import dedup as D
from etl_caic_spark.operators.concomp import dedup_groups
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.util import scratch_path


@register(
    "sink_file_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 9 = 0
    """,
    tags=("sink",),
)
def sink_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File sink (R15 analogue): write a projection to parquet, read it
    back — the roundtrip must be lossless (oracle = the source query).
    Overwrite mode = idempotent re-runs (SURVEY.md §2.B.8)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 9 == 0)
    out = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = scratch_path("etl_caic_sink_roundtrip")
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register(
    "subquery_in",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      AND o_orderstatus = 'O'
    """,
    tags=("subquery",),
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery (planned as a left-semi join by Catalyst)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    o.createOrReplaceTempView("orders_in_tmp")
    c.createOrReplaceTempView("customer_in_tmp")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders_in_tmp
        WHERE o_custkey IN (SELECT c_custkey FROM customer_in_tmp
                            WHERE c_acctbal > 9000)
          AND o_orderstatus = 'O'
        """
    )


@register(
    "subquery_exists_correlated",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 2 * c.c_acctbal
            AND c.c_acctbal > 0
    )
    """,
    tags=("subquery",),
)
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a cross-table predicate (decorrelated by
    Catalyst into a semi join with the predicate as join condition)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ex_tmp")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_ex_tmp")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM customer_ex_tmp c
        WHERE EXISTS (
          SELECT 1 FROM orders_ex_tmp o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 2 * c.c_acctbal
                AND c.c_acctbal > 0
        )
        """
    )


@register(
    "fn_array_setops",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_distinct(string_split(text, ' ')) AS words,
             list_distinct(string_split(upper(text), ' ')) AS upper_words
      FROM documents WHERE doc_id % 40 = 0
    )
    SELECT doc_id,
           CAST(len(words) AS INT) AS n_uniq,
           coalesce(array_to_string(list_sort(list_filter(words,
             w -> list_contains(['table','row','key','scan','hash'], w))), ',')
             , '') AS kept_keywords,
           coalesce(array_to_string(list_sort(list_filter(words,
             w -> NOT list_contains(['a','the','of'], w))), ','), '')
             AS without_stop,
           CAST(len(list_filter(upper_words,
             w -> list_contains(['TABLE','ROW'], w))) AS INT) AS n_upper_hits
    FROM w
    """,
    tags=("fn", "array"),
)
def fn_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operations via higher-order functions (portable semantics:
    array_intersect/except have engine-specific ordering, so the oracle-safe
    formulation is filter+contains+sort — same plan shape, deterministic).
    Array results are emitted comma-joined (driver canonicalizer needs
    scalar cells; DuckDB's array_to_string is NULL on empty → coalesce)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 40 == 0)
    words = F.array_distinct(F.split("text", " "))
    upper_words = F.array_distinct(F.split(F.upper("text"), " "))
    keywords = F.array(*[F.lit(x) for x in ["table", "row", "key", "scan", "hash"]])
    stop = F.array(*[F.lit(x) for x in ["a", "the", "of"]])
    upkeys = F.array(F.lit("TABLE"), F.lit("ROW"))
    return d.select(
        "doc_id",
        F.size(words).alias("n_uniq"),
        F.array_join(
            F.array_sort(F.filter(words, lambda w: F.array_contains(keywords, w))), ","
        ).alias("kept_keywords"),
        F.array_join(
            F.array_sort(F.filter(words, lambda w: ~F.array_contains(stop, w))), ","
        ).alias("without_stop"),
        F.size(F.filter(upper_words, lambda w: F.array_contains(upkeys, w))).alias(
            "n_upper_hits"
        ),
    )


@register(
    "fn_date2",
    oracle="""
    SELECT o_orderkey,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           strftime(make_date(CAST(year(o_orderdate) AS INT), 1, 1), '%Y-%m-%d')
             AS year_start
    FROM orders
    WHERE o_orderkey % 13 = 0
    """,
    tags=("fn", "date"),
)
def fn_date2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended date surface: last_day, epoch seconds, quarter, ISO week,
    make_date."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    return o.select(
        "o_orderkey",
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.weekofyear("o_orderdate").cast("int").alias("iso_week"),
        F.date_format(
            F.make_date(F.year("o_orderdate"), F.lit(1), F.lit(1)), "yyyy-MM-dd"
        ).alias("year_start"),
    )


@register(
    "tpch_q3_shape",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("headline", "join"),
)
def tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filtered both sides, group + top-10.

    Scale: customer filter broadcast into orders; orders⋈lineitem shuffles
    on orderkey; TakeOrderedAndProject for the limit."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_shape",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("headline", "join"),
)
def tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join (local-supplier revenue by
    nation). Dims (region/nation/supplier/customer) broadcast; the one
    fact⋈fact shuffle is lineitem⋈orders on orderkey."""
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@register(
    "dedup_groups",
    oracle="""
    WITH sh0 AS (
      SELECT doc_id, lang, source, shingle
      FROM (
        SELECT doc_id, lang, source,
               unnest([array_to_string(words[i:i+2], ' ')
                       for i in generate_series(1, greatest(len(words)-2, 1))])
                 AS shingle
        FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS words
              FROM documents)
      )
      GROUP BY ALL
    ),
    sh AS (
      SELECT doc_id, lang, source, shingle
      FROM (SELECT *, count(*) OVER (PARTITION BY lang, source, shingle)
                      AS df
            FROM sh0)
      WHERE df <= 20
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang
                AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common / (sa.n + sb.n - common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    rec AS (
      WITH RECURSIVE reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
      ) SELECT * FROM reach
    )
    SELECT d.doc_id,
           CAST(coalesce(least(min(r.d), d.doc_id), d.doc_id) AS BIGINT)
             AS group_id,
           coalesce(least(min(r.d), d.doc_id), d.doc_id) = d.doc_id
             AS is_representative
    FROM documents d LEFT JOIN rec r ON r.s = d.doc_id
    GROUP BY d.doc_id
    """,
    tags=("dedup", "iterative"),
)
def dedup_groups_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components dedup groups over exact-Jaccard near-dup pairs
    (threshold 0.5, stop-shingle df-cap 20 — the same skew guard as
    dedup_jaccard_capped, so the pair generation is 100 TB-safe): every
    transitive cluster collapses to its min-id representative
    (operators/concomp.py — driver union-find below the size gate,
    star contraction with pointer doubling above it). Oracled via a DuckDB
    recursive-CTE transitive closure (component = min reachable id —
    viable at oracle scale; the iterative DataFrame form is the 100 TB
    path); pytest additionally verifies against a Python union-find."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", ["lang", "source"], k=3, threshold=0.5,
        max_shingle_df=20,
    )
    return dedup_groups(d.select("doc_id"), pairs, "doc_id")
