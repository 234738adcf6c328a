"""Round-9 wave I (file wave11b): SemDeDup-style SEMANTIC deduplication
— embedding-cosine near-dup pairs clustered transitively with canonical
keep verdicts.

The dedup family covered exact, normalized, MinHash/SimHash (lexical),
containment, CDC-paragraph and URL dedup, plus transitive clustering of
the lexical pairs (dedup_cluster_canonical, wave9d.py). The missing
member named explicitly by the engine mandate is EMBEDDING-COSINE
near-dup: semantically duplicated documents whose token overlap is low
(translations, paraphrases, re-renders) that only the embedding space
catches — the SemDeDup recipe (Abbas et al. 2023: embed, find
high-cosine neighbors, keep one representative per semantic cluster).

``dedup_semantic_embedding`` composes three verified pieces end-to-end:
the planted-twin corpus (plans/llm3.twinned_embedding_corpus — the
shared semantic-dup fixture), sign-random-projection LSH candidate
pairs verified by exact cosine >= 0.9 (operators/lsh.py — bucketed
equi-join, never all-pairs, integer-deterministic hyperplanes), and the
shared star-contraction operator (operators/concomp.py) for transitive
clusters with canonical-minimum survivors. The oracle replays the full
LSH banding, the cosine verification AND a recursive transitive
closure, so the hash match certifies true semantic-cluster semantics
from raw floats to keep verdicts.

Scale: identical posture to its components — banding is linear with
bucket-size caps, verification touches candidate pairs only, and the
contracted edge frame strictly shrinks (dup clusters are near-cliques,
so contraction converges in 2-3 rounds). At 100 TB this is the
embedding-side sibling of dedup_cluster_canonical, run after exact
dedup has removed byte-identical copies.

Reference parity: the reference (task.ts:88-189) has no dedup surface —
SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caic_spark.operators import lsh as L
from etl_caic_spark.operators.concomp import connected_components
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table

_SEMDEDUP_SQL = """
    WITH RECURSIVE src AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    twins AS (
      SELECT vec_id + 100000 AS tid,
             list_transform(generate_series(1, 64), i ->
               CASE WHEN i - 1 = vec_id % 64 THEN -e[i] ELSE e[i] END) AS te
      FROM src WHERE vec_id % 10 = 0
    ),
    corpus AS (
      SELECT vec_id, e FROM src
      UNION ALL
      SELECT tid AS vec_id, te AS e FROM twins
    ),
    q AS (
      SELECT vec_id, e,
             list_transform(e, x -> CAST(floor(x * 1e6) AS BIGINT)) AS qv
      FROM corpus
    ),
    bits AS (
      SELECT vec_id, p,
             CASE WHEN list_sum(list_transform(generate_series(0, 63), d ->
               (CASE WHEN (1103515245 * (p*64 + d + 1) + 12345)
                          % 2147483648 % 2048 >= 1024
                     THEN 1 ELSE -1 END) * qv[d+1])) >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM q, generate_series(0, 63) AS t(p)
    ),
    bv AS (
      SELECT vec_id, p // 16 AS band,
             CAST(sum(bit * (1 << (p % 16))) AS BIGINT) AS band_val
      FROM bits GROUP BY 1, 2
      QUALIFY count(*) OVER (PARTITION BY p // 16,
                             CAST(sum(bit * (1 << (p % 16))) AS BIGINT)) <= 512
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bv a JOIN bv b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN q qa ON qa.vec_id = id_a
      JOIN q qb ON qb.vec_id = id_b
      WHERE round(list_inner_product(qa.e, qb.e)
                  / (sqrt(list_inner_product(qa.e, qa.e))
                     * sqrt(list_inner_product(qb.e, qb.e))), 6) >= 0.9
    ),
    arcs AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    walk AS (
      SELECT s AS v, d AS r FROM arcs
      UNION
      SELECT wk.v, a.d FROM walk wk JOIN arcs a ON a.s = wk.r
    ),
    comp AS (
      SELECT v AS vec_id, CAST(least(v, min(r)) AS BIGINT) AS canonical_vec
      FROM walk GROUP BY v
    ),
    sizes AS (
      SELECT canonical_vec, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY 1
    )
    SELECT c.vec_id, c.canonical_vec, s.cluster_size,
           c.vec_id = c.canonical_vec AS is_kept
    FROM comp c JOIN sizes s USING (canonical_vec)
"""


@register(
    "dedup_semantic_embedding",
    oracle=_SEMDEDUP_SQL,
    tags=("dedup", "llm", "similarity", "graph", "scale"),
)
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (module docstring): LSH-cosine near-dup pairs (>= 0.9)
    over the planted-twin corpus, clustered transitively by star
    contraction; every vector in a semantic cluster gets its cluster's
    canonical (minimum) id, the cluster size, and its keep/remove
    verdict. Pairs alone under-delete across paraphrase chains —
    transitivity is the point, exactly as in the lexical sibling
    dedup_cluster_canonical (wave9d.py)."""
    from etl_caic_spark.plans.llm3 import twinned_embedding_corpus

    e = load_table(spark, sf_dir, "embeddings")
    corpus = twinned_embedding_corpus(e)
    pairs = L.lsh_cosine_pairs(
        corpus, "vec_id", "embedding", threshold=0.9, planes=64, band_bits=16, dims=64
    ).select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    comp = connected_components(pairs).select(
        F.col("v").alias("vec_id"), F.col("component").alias("canonical_vec")
    )
    sizes = comp.groupBy("canonical_vec").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return comp.join(sizes, "canonical_vec").select(
        "vec_id",
        "canonical_vec",
        "cluster_size",
        (F.col("vec_id") == F.col("canonical_vec")).alias("is_kept"),
    )
