"""Record linkage via the sorted-neighborhood method: fuzzy-match the
`part` catalog against itself (name typo detection) without the
quadratic blocked self-join.

Classic blocking (join on a block key, compare all pairs in a block) is
O(sum block_size^2) — a hot block at 100 TB is an accidental cross
join. Sorted-neighborhood is the scale-safe alternative: sort records
by a discriminating key and compare each record only to its next W
neighbors (a window of lead() calls) — strictly O(N*W), one sort
shuffle, no pair blowup regardless of key skew. W=3 here; the miss
rate vs full blocking is the standard SNM trade and is what multi-pass
SNM (different sort keys per pass) exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table


@register(
    "link_sorted_neighborhood",
    oracle="""
    WITH r AS (
      SELECT p_partkey, p_name,
             split_part(p_name, ' ', 2) || '|' || p_name AS sort_key
      FROM part
    ), nb AS (
      SELECT p_partkey AS a_key, p_name AS a_name,
             lead(p_partkey, 1) OVER w AS b_key1,
             lead(p_name, 1) OVER w AS b_name1,
             lead(p_partkey, 2) OVER w AS b_key2,
             lead(p_name, 2) OVER w AS b_name2,
             lead(p_partkey, 3) OVER w AS b_key3,
             lead(p_name, 3) OVER w AS b_name3
      FROM r WINDOW w AS (ORDER BY sort_key, p_partkey)
    ), pairs AS (
      SELECT a_key, a_name, b_key1 AS b_key, b_name1 AS b_name FROM nb
      UNION ALL
      SELECT a_key, a_name, b_key2, b_name2 FROM nb
      UNION ALL
      SELECT a_key, a_name, b_key3, b_name3 FROM nb
    )
    SELECT a_key, b_key, a_name, b_name,
           CAST(levenshtein(a_name, b_name) AS INT) AS dist
    FROM pairs
    WHERE b_key IS NOT NULL AND a_name <> b_name
      AND levenshtein(a_name, b_name) <= 3
    """,
    tags=("linkage", "dedup"),
)
def link_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood fuzzy linkage over part names: sort by
    (noun, full name), compare each record to its 3 successors, keep
    non-identical pairs within edit distance 3.

    The single global sort is the only shuffle; the lead() window never
    materializes pairs beyond N*3 rows. (The global ORDER BY window is
    a deliberate single-partition sort at test scale; the scale variant
    is range-partitioned sort — repartitionByRange on sort_key — with
    per-partition windows plus a boundary pass, the same structure as
    layout_sorted_within_partitions, plans/layoutq.py.)
    """
    r = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.concat(
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)),
            F.lit("|"),
            F.col("p_name"),
        ).alias("sort_key"),
    )
    w = Window.orderBy("sort_key", "p_partkey")
    nb = r.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_name").alias("a_name"),
        *[
            f
            for i in (1, 2, 3)
            for f in (
                F.lead("p_partkey", i).over(w).alias(f"b_key{i}"),
                F.lead("p_name", i).over(w).alias(f"b_name{i}"),
            )
        ],
    )
    pairs = None
    for i in (1, 2, 3):
        p = nb.select(
            "a_key",
            "a_name",
            F.col(f"b_key{i}").alias("b_key"),
            F.col(f"b_name{i}").alias("b_name"),
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    return (
        pairs.filter(
            F.col("b_key").isNotNull() & (F.col("a_name") != F.col("b_name"))
        )
        .withColumn(
            "dist", F.levenshtein("a_name", "b_name").cast("int")
        )
        .filter(F.col("dist") <= 3)
        .select("a_key", "b_key", "a_name", "b_name", "dist")
    )


@register(
    "link_entity_resolution",
    oracle="""
    WITH r AS (
      SELECT p_partkey, p_name,
             split_part(p_name, ' ', 2) || '|' || p_name AS sort_key
      FROM part
    ), nb AS (
      SELECT p_partkey AS a_key, p_name AS a_name,
             lead(p_partkey, 1) OVER w AS b_key1, lead(p_name, 1) OVER w AS b_name1,
             lead(p_partkey, 2) OVER w AS b_key2, lead(p_name, 2) OVER w AS b_name2,
             lead(p_partkey, 3) OVER w AS b_key3, lead(p_name, 3) OVER w AS b_name3
      FROM r WINDOW w AS (ORDER BY sort_key, p_partkey)
    ), cand AS (
      SELECT a_key, a_name, b_key1 AS b_key, b_name1 AS b_name FROM nb
      UNION ALL SELECT a_key, a_name, b_key2, b_name2 FROM nb
      UNION ALL SELECT a_key, a_name, b_key3, b_name3 FROM nb
    ), matches AS (
      SELECT a_key, b_key FROM cand
      WHERE b_key IS NOT NULL AND a_name <> b_name
        AND levenshtein(a_name, b_name) <= 3
    ), edges AS (
      SELECT a_key AS s, b_key AS d FROM matches
      UNION SELECT b_key, a_key FROM matches
    ), rec AS (
      WITH RECURSIVE reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
      ) SELECT * FROM reach
    )
    SELECT p.p_partkey,
           CAST(coalesce(least(min(r.d), p.p_partkey), p.p_partkey) AS BIGINT)
             AS entity_id,
           coalesce(least(min(r.d), p.p_partkey), p.p_partkey) = p.p_partkey
             AS is_canonical
    FROM part p LEFT JOIN rec r ON r.s = p.p_partkey
    GROUP BY p.p_partkey
    """,
    tags=("linkage", "dedup", "iterative"),
)
def link_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: sorted-neighborhood candidate pairs
    (link_sorted_neighborhood above) -> transitive closure -> one
    canonical entity id (min partkey) per cluster of fuzzy-matching
    names; singletons stay their own entity.

    Reuses operators/concomp.connected_components — star contraction
    with pointer doubling at scale, size-gated to driver union-find
    below 1M edges. The oracle mirrors the closure
    with a DuckDB recursive CTE (viable at oracle scale only). Pair
    generation stays O(N*W) via SNM, so the whole resolution is
    linear + closure rounds at 100 TB.
    """
    from etl_caic_spark.operators.concomp import dedup_groups

    matches = link_sorted_neighborhood(spark, sf_dir).select(
        F.col("a_key").alias("doc_a"), F.col("b_key").alias("doc_b")
    )
    parts = load_table(spark, sf_dir, "part").select("p_partkey")
    out = dedup_groups(parts, matches, "p_partkey")
    return out.select(
        "p_partkey",
        F.col("group_id").cast("bigint").alias("entity_id"),
        F.col("is_representative").alias("is_canonical"),
    )


@register(
    "link_snm_distributed",
    oracle="""
    WITH r AS (
      SELECT p_partkey, p_name,
             split_part(p_name, ' ', 2) || '|' || p_name AS sort_key
      FROM part
    ), nb AS (
      SELECT p_partkey AS a_key, p_name AS a_name,
             lead(p_partkey, 1) OVER w AS b_key1, lead(p_name, 1) OVER w AS b_name1,
             lead(p_partkey, 2) OVER w AS b_key2, lead(p_name, 2) OVER w AS b_name2,
             lead(p_partkey, 3) OVER w AS b_key3, lead(p_name, 3) OVER w AS b_name3
      FROM r WINDOW w AS (ORDER BY sort_key, p_partkey)
    ), pairs AS (
      SELECT a_key, a_name, b_key1 AS b_key, b_name1 AS b_name FROM nb
      UNION ALL
      SELECT a_key, a_name, b_key2, b_name2 FROM nb
      UNION ALL
      SELECT a_key, a_name, b_key3, b_name3 FROM nb
    )
    SELECT a_key, b_key, a_name, b_name,
           CAST(levenshtein(a_name, b_name) AS INT) AS dist
    FROM pairs
    WHERE b_key IS NOT NULL AND a_name <> b_name
      AND levenshtein(a_name, b_name) <= 3
    """,
    tags=("linkage", "dedup", "scale"),
)
def link_snm_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED sorted-neighborhood linkage (operators/snm.py):
    range-partition by the sort key, duplicate each partition's first W
    rows into the preceding partition, run the lead window per
    partition group. The oracle is the SAME single-global-window SQL as
    link_sorted_neighborhood — the hash match proves the boundary-
    duplication construction loses no pair and invents none, regardless
    of where the sampled range boundaries fall.

    This is the formulation that survives 100 TB: the only global
    operation is the range shuffle (parallel by construction); the
    windows never see more than one partition's rows plus W lookahead
    rows. link_sorted_neighborhood (above) keeps the single-window
    form as the readable semantic anchor.
    """
    from etl_caic_spark.operators.snm import sorted_neighborhood_pairs

    r = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.concat(
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)),
            F.lit("|"),
            F.col("p_name"),
        ).alias("sort_key"),
    )
    pairs = sorted_neighborhood_pairs(
        r, ["p_partkey", "p_name"], "sort_key", w=3, num_partitions=8
    )
    return (
        pairs.filter(F.col("a_p_name") != F.col("b_p_name"))
        .withColumn(
            "dist", F.levenshtein("a_p_name", "b_p_name").cast("int")
        )
        .filter(F.col("dist") <= 3)
        .select(
            F.col("a_p_partkey").alias("a_key"),
            F.col("b_p_partkey").alias("b_key"),
            F.col("a_p_name").alias("a_name"),
            F.col("b_p_name").alias("b_name"),
            "dist",
        )
    )
