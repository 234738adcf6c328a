"""Round-9 wave D: dedup CLUSTERING (the step after pair generation),
parametric one-way ANOVA, and Matthews correlation.

- ``dedup_cluster_canonical``: MinHash+LSH emits near-dup PAIRS
  (dedup_minhash_md5, llm3.py:390) but a curation pipeline must act on
  CLUSTERS — transitively-connected duplicate groups — keeping one
  canonical document per cluster (the Dolma / ccnet recipe: pairs ->
  union-find -> keep min). This query closes that gap: the pair graph
  feeds the shared star-contraction operator (operators/concomp.py) and
  each participating document is labeled with its cluster's canonical
  (minimum) doc_id, its cluster size, and whether it survives. The
  oracle replays the full md5-MinHash banding AND a recursive
  transitive closure, so the hash match certifies true
  transitive-duplicate semantics end-to-end.
- ``stat_anova_f``: the parametric sibling of stat_kruskal_wallis
  (wave9a.py) on the same design — one-way ANOVA F and eta^2 for
  l_quantity across the three pinned l_returnflag groups. All moments
  (n_i, sum, sum of squares) are exact BIGINTs folded map-side; the F
  statistic is one fixed-order scalar expression over the pinned-group
  pivot (every operand exactly representable in DOUBLE, so each
  product/divide rounds identically under IEEE on both engines).
- ``eval_mcc``: Matthews correlation for the thresholded deterministic
  milli-probability predictions shared with eval_brier_logloss /
  eval_calibration_bins. The four confusion cells are exact BIGINTs;
  MCC's denominator sqrt is a single IEEE-correctly-rounded op (the
  sim_tfidf_cosine_topk precedent), and the published value is one
  rounded division.

Reference parity: the reference (task.ts:88-189) has no dedup/stats/ML
surface — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caic_spark.operators import dedup as D
from etl_caic_spark.operators.concomp import connected_components
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table

# --------------------------------------------------------------------------
# dedup_cluster_canonical
# --------------------------------------------------------------------------

# the md5-MinHash pair derivation, verbatim from dedup_minhash_md5's
# oracle (llm3.py:390) — same signatures, same banding, same >= 0.5
# signature-agreement verification
_PAIRS_CTES = """
    w AS (
      SELECT doc_id AS doc, string_split(text, ' ') AS words FROM documents
    ),
    sh AS (
      SELECT doc, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(words) - 3, 0)),
               i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')
             ))) AS shingle
      FROM w
    ),
    mins AS (
      SELECT doc, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
      FROM sh, generate_series(0, 15) t(j)
      GROUP BY doc, j
    ),
    sig AS (
      SELECT doc, list(h ORDER BY j) AS sig FROM mins GROUP BY doc
    ),
    banded AS (
      SELECT doc, b AS band_idx,
             md5(array_to_string(list_slice(sig, b*2 + 1, b*2 + 2), ','))
               AS band_hash
      FROM sig, generate_series(0, 7) t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc < b.doc
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN sig sa ON sa.doc = doc_a
      JOIN sig sb ON sb.doc = doc_b
      WHERE list_sum(list_transform(generate_series(1, 16),
              i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16
            >= 0.5
    )
"""

_CLUSTER_SQL = (
    "WITH RECURSIVE "
    + _PAIRS_CTES
    + """,
    arcs AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    walk AS (
      SELECT s AS v, d AS r FROM arcs
      UNION
      SELECT wk.v, a.d FROM walk wk JOIN arcs a ON a.s = wk.r
    ),
    comp AS (
      SELECT v AS doc_id, CAST(least(v, min(r)) AS BIGINT) AS canonical_doc
      FROM walk GROUP BY v
    ),
    sizes AS (
      SELECT canonical_doc, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY 1
    )
    SELECT c.doc_id, c.canonical_doc, s.cluster_size,
           c.doc_id = c.canonical_doc AS is_kept
    FROM comp c JOIN sizes s USING (canonical_doc)
"""
)


@register("dedup_cluster_canonical", oracle=_CLUSTER_SQL, tags=("dedup", "llm", "graph", "scale"))
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate clustering with canonical selection:
    md5-MinHash LSH pairs (est_jaccard >= 0.5, the dedup_minhash_md5
    candidates) are treated as an undirected graph; every document in a
    duplicate cluster is labeled with the cluster's minimum doc_id (the
    canonical survivor), the cluster size, and its keep/remove verdict.
    Pairs alone under-delete: A~B and B~C must drop BOTH B and C even
    when A~C never surfaced as a pair — transitivity is the point.

    Plan shape: the pair generation is the banded LSH equi-join (never
    all-pairs; operators/dedup.py), and the clustering is the shared
    star-contraction + pointer-doubling operator (operators/concomp.py
    — contracted edge frame strictly shrinks per round, the relabel map
    is shortcut to its fixpoint each round, convergence detected by a
    one-row count and a RuntimeError — never silent partial labels — if
    a cap is ever hit). Most duplicate-cluster graphs are cliques of
    copies that converge in 2-3 rounds, but chain motifs A~B~C~... are
    exactly what near-dup thresholds produce, and the doubling shortcut
    is what makes those log-round instead of length-round; the oracle's
    recursive transitive closure certifies true cluster semantics, not
    an unrolled schedule."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs_md5(
        d, "doc_id", "text", num_hashes=16, bands=8, k=3, threshold=0.5
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    comp = connected_components(pairs).select(
        F.col("v").alias("doc_id"), F.col("component").alias("canonical_doc")
    )
    sizes = comp.groupBy("canonical_doc").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return comp.join(sizes, "canonical_doc").select(
        "doc_id",
        "canonical_doc",
        "cluster_size",
        (F.col("doc_id") == F.col("canonical_doc")).alias("is_kept"),
    )


# --------------------------------------------------------------------------
# stat_anova_f
# --------------------------------------------------------------------------

_ANOVA_SQL = """
    WITH obs AS (
      SELECT l_returnflag AS grp, CAST(round(l_quantity) AS BIGINT) AS v
      FROM lineitem
    ),
    g AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(v) AS BIGINT) AS s_i,
             CAST(sum(v * v) AS BIGINT) AS q_i
      FROM obs GROUP BY 1
    ),
    piv AS (
      SELECT CAST(sum(n_i) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(s_i) AS BIGINT) AS s,
             CAST(sum(q_i) AS BIGINT) AS q,
             CAST(sum(CASE WHEN grp = 'A' THEN s_i ELSE 0 END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN grp = 'A' THEN n_i ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN grp = 'N' THEN s_i ELSE 0 END) AS BIGINT) AS sn,
             CAST(sum(CASE WHEN grp = 'N' THEN n_i ELSE 0 END) AS BIGINT) AS nn,
             CAST(sum(CASE WHEN grp = 'R' THEN s_i ELSE 0 END) AS BIGINT) AS sr,
             CAST(sum(CASE WHEN grp = 'R' THEN n_i ELSE 0 END) AS BIGINT) AS nr
      FROM g
    ),
    ss AS (
      SELECT n, n_groups,
             (CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na
              + CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / nn
              + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / nr
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS ssb,
             (CAST(q AS DOUBLE)
              - (CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na
                 + CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / nn
                 + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / nr)) AS ssw
      FROM piv
    )
    SELECT n, n_groups,
           CAST(round((ssb / (n_groups - 1.0)) / (ssw / (n - n_groups * 1.0))
                      * 1000000.0) AS BIGINT) AS f_micro,
           CAST(round(ssb / (ssb + ssw) * 1000000.0) AS BIGINT) AS eta2_micro
    FROM ss
"""


@register("stat_anova_f", oracle=_ANOVA_SQL, tags=("stats",))
def stat_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F and eta^2 of l_quantity across the three pinned
    l_returnflag groups — the parametric counterpart to
    stat_kruskal_wallis, sharing its determinism posture: all moments
    are exact BIGINTs from one map-side-combinable groupBy; the pinned
    A/N/R pivot keeps the float expression fixed-order; each double
    operand (s_i <= 1e7 at sf0.1, squared 1e14 < 2^53) is exactly
    representable, so both engines round identically. Single-row output
    at any input size."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_quantity")).cast("bigint").alias("v"),
    )
    g = li.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.sum("v").cast("bigint").alias("s_i"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q_i"),
    )

    def _pick(col: str, grp: str):
        return F.sum(F.when(F.col("grp") == grp, F.col(col)).otherwise(F.lit(0)))

    piv = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("s_i").cast("bigint").alias("s"),
        F.sum("q_i").cast("bigint").alias("q"),
        _pick("s_i", "A").cast("bigint").alias("sa"),
        _pick("n_i", "A").cast("bigint").alias("na"),
        _pick("s_i", "N").cast("bigint").alias("sn"),
        _pick("n_i", "N").cast("bigint").alias("nn"),
        _pick("s_i", "R").cast("bigint").alias("sr"),
        _pick("n_i", "R").cast("bigint").alias("nr"),
    )

    def _sq(s: str, n: str):
        return (F.col(s).cast("double") * F.col(s).cast("double")) / F.col(n)

    within_groups = _sq("sa", "na") + _sq("sn", "nn") + _sq("sr", "nr")
    ssb = within_groups - _sq("s", "n")
    ssw = F.col("q").cast("double") - within_groups
    return piv.select(
        "n",
        "n_groups",
        F.round(
            (ssb / (F.col("n_groups") - F.lit(1.0)))
            / (ssw / (F.col("n") - F.col("n_groups") * F.lit(1.0)))
            * 1000000.0
        )
        .cast("bigint")
        .alias("f_micro"),
        F.round(ssb / (ssb + ssw) * 1000000.0).cast("bigint").alias("eta2_micro"),
    )


# --------------------------------------------------------------------------
# eval_mcc
# --------------------------------------------------------------------------

_MCC_SQL = """
    WITH scored AS (
      SELECT CASE WHEN (vec_id * 37) % 1000 >= 500 THEN 1 ELSE 0 END AS pred,
             CAST(label % 2 AS INT) AS y
      FROM embeddings
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM scored
    )
    SELECT tp, fp, tn, fn,
           CAST(round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                      / sqrt(CAST((tp + fp) AS DOUBLE) * (tp + fn)
                             * (tn + fp) * (tn + fn))
                      * 1000000.0) AS BIGINT) AS mcc_micro
    FROM cells
"""


@register("eval_mcc", oracle=_MCC_SQL, tags=("ml", "eval", "agg"))
def eval_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient for the thresholded (>= 0.5)
    deterministic milli-probability predictions shared with
    eval_brier_logloss. The four confusion cells fold map-side to exact
    BIGINTs; the denominator's single sqrt is IEEE-correctly-rounded on
    both engines and the published value is one rounded division —
    single-row output at any input size."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.when((F.col("vec_id") * 37) % 1000 >= 500, 1).otherwise(0).alias("pred"),
        (F.col("label") % 2).cast("int").alias("y"),
    )
    cells = scored.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
    )
    num = F.col("tp").cast("double") * F.col("tn") - F.col("fp").cast("double") * F.col(
        "fn"
    )
    den = F.sqrt(
        (F.col("tp") + F.col("fp")).cast("double")
        * (F.col("tp") + F.col("fn"))
        * (F.col("tn") + F.col("fp"))
        * (F.col("tn") + F.col("fn"))
    )
    return cells.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(num / den * 1000000.0).cast("bigint").alias("mcc_micro"),
    )
