"""Round-15 wave 21a: second frontier wave of the round — the
composition/audit layer over the round's new primitives, each with an
exact DuckDB oracle:

- ``quality_ensemble_gate``: the production KEEP/DROP gate as curation
  pipelines actually compose it — Gopher rule pass (the shared per-doc
  flags of quality_gopher_rules), fastText-linear pass
  (quality_fasttext_linear's scorer), and language-ID agreement
  (text_langid_chargram's predictor vs the declared lang) — one row per
  document with the three verdicts, the AND-gate keep bit, and the
  pass count. The dedup_ensemble_agreement idea applied to the QUALITY
  axis: the per-method columns expose which filter kills which doc.
- ``eval_semdedup_agreement``: cross-method SEMANTIC dedup audit — the
  SRP-LSH + transitive-closure deduper (dedup_semantic_embedding) vs
  the IVF keep-min pruner (dedup_semdedup_prune) on the same planted-
  twin corpus, reduced to the (is_twin, kept_lsh, kept_ivf) confusion
  cells with counts. Planted twins are ground truth (a twin SHOULD be
  pruned), so the cells read directly as per-method recall/false-prune
  — the method-selection table the dedup_ensemble gives for lexical
  methods, here for the embedding methods the doc_id universe can't
  host.
- ``data_rho_selection``: RHO-loss-style data selection (Mindermann et
  al. 2022) — keep the per-source top-k documents by EXCESS loss
  (train-model hardness minus reference-model hardness). Both models
  are frozen linear scorers over the SAME per-word hash (the
  quality_fasttext_linear table as the train model, a second affine
  remap of the same hash as the reference), so the excess is an exact
  integer per document and the selection is fully reproducible.

Reference parity: none of this exists in the reference (task.ts has no
text/embedding surface) — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.util import submit_inheriting, widen_narrow_scan

# --------------------------------------------------------------------------
# quality_ensemble_gate
# --------------------------------------------------------------------------

from etl_caic_spark.plans.wave20a import _LID_GRAMS_SQL, _lid_score_sql

_FT_PASS_SQL = """
      SELECT doc_id, coalesce(list_sum(list_transform(
               [w for w in string_split(text, ' ') if len(w) > 0],
               w -> list_reduce(list_prepend(0,
                      [CAST(ord(c) AS BIGINT) for c in string_split(w, '')]),
                      (acc, c) -> (acc * 31 + c) % 1048576) % 2001 - 1000)),
             0) >= 0 AS fasttext_pass
      FROM documents
"""

_QEG_SQL = f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
    ),
    hof AS (
      SELECT doc_id, source,
             CAST(len(l) AS BIGINT) AS n,
             CAST(list_sum(list_transform(l, w -> length(w))) AS BIGINT)
               AS sc,
             CAST(len(list_distinct(list_filter(l,
                  w -> list_contains(['a','the','of','to','and'], w))))
               AS BIGINT) AS nstop,
             CAST(len(l) - 1 AS BIGINT) AS nb,
             CAST(len(list_distinct(list_transform(
                  generate_series(1, len(l) - 1),
                  i -> l[i] || ' ' || l[i + 1]))) AS BIGINT) AS nbd
      FROM toks
    ),
    topw AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS mx
      FROM (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(l) AS w FROM toks)
        GROUP BY 1, 2
      ) GROUP BY 1
    ),
    gop AS (
      SELECT h.doc_id, h.source,
             (CASE WHEN h.n BETWEEN 35 AND 95 THEN 0 ELSE 1 END
              + CASE WHEN h.sc * 5 BETWEEN 16 * h.n AND 23 * h.n
                     THEN 0 ELSE 1 END
              + CASE WHEN h.nstop >= 2 THEN 0 ELSE 1 END
              + CASE WHEN t.mx * 10 <= h.n THEN 0 ELSE 1 END
              + CASE WHEN (h.nb - h.nbd) * 20 <= h.nb THEN 0 ELSE 1 END
             ) = 0 AS gopher_pass
      FROM hof h JOIN topw t USING (doc_id)
    ),
    ftw AS ({_FT_PASS_SQL}
    ),
    lc AS (
      SELECT doc_id, lang, text,
             list_transform(string_split(text, ''),
                            ch -> CAST(ord(ch) AS BIGINT)) AS cs
      FROM documents
    ),
    lg AS (
      SELECT doc_id, lang, {_LID_GRAMS_SQL} AS ghs FROM lc
    ),
    ls AS (
      SELECT doc_id, lang,
             {_lid_score_sql(7)} AS s_de,
             {_lid_score_sql(11)} AS s_en,
             {_lid_score_sql(13)} AS s_es,
             {_lid_score_sql(17)} AS s_fr,
             {_lid_score_sql(19)} AS s_zh
      FROM lg
    ),
    lid AS (
      SELECT doc_id,
        (CASE
          WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
          WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
          WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
          WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
          ELSE 'zh'
        END) = lang AS langid_agrees
      FROM ls
    )
    SELECT g.doc_id, g.source, g.gopher_pass, f.fasttext_pass,
           l.langid_agrees,
           g.gopher_pass::INT + f.fasttext_pass::INT
             + l.langid_agrees::INT >= 2 AS keep,
           CAST(g.gopher_pass::INT + f.fasttext_pass::INT
                + l.langid_agrees::INT AS INT) AS n_pass
    FROM gop g JOIN ftw f USING (doc_id) JOIN lid l USING (doc_id)
"""


@register(
    "quality_ensemble_gate",
    oracle=_QEG_SQL,
    tags=("quality", "text", "llm", "curation", "pipeline"),
)
def quality_ensemble_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production quality gate, one row per document:
    gopher_pass (all five Gopher rules — the SHARED per-doc flag
    pipeline of quality_gopher_rules, curation2q.gopher_doc_flags),
    fasttext_pass (the frozen linear scorer's score >= 0), and
    langid_agrees (the char-trigram predictor matches the declared
    lang), with n_pass the agreement count and keep = QUORUM (n_pass >=
    2 of 3 — on the word-soup fixture the strict AND is empty, so the
    registered gate is the majority form; the AND is recoverable from
    the bits). This is the filter STACK as published curation pipelines
    compose it (rules + model score + langid); the per-method columns
    are the triage view — which filter kills which doc — mirroring
    dedup_ensemble_agreement on the quality axis.

    Plan shape: three doc-grain verdict frames joined on doc_id. The
    fastText and langid legs are zero-semantic-exchange per-row chains;
    the Gopher leg adds the one token-grain explode its top-word signal
    needs (quality_gopher_rules' documented posture). All-boolean
    output, integer arithmetic throughout — bit-exact on both engines.
    Inherits the F.ascii <-> ord ASCII contract of its scorers."""
    from etl_caic_spark.plans.curation2q import gopher_doc_flags
    from etl_caic_spark.plans.wave19a import linear_doc_score
    from etl_caic_spark.plans.wave20a import langid_predicted, langid_scored

    d = load_table(spark, sf_dir, "documents")
    flags = gopher_doc_flags(d)
    gop = flags.select(
        "doc_id",
        "source",
        (
            F.col("f_wc")
            + F.col("f_mwl")
            + F.col("f_stop")
            + F.col("f_top")
            + F.col("f_dup2")
            == 0
        ).alias("gopher_pass"),
    )
    _, total = linear_doc_score(F.col("text"))
    ft = widen_narrow_scan(d).select(
        "doc_id", (total >= 0).alias("fasttext_pass")
    )
    lid = langid_scored(d).select(
        "doc_id",
        (langid_predicted() == F.col("declared_lang")).alias("langid_agrees"),
    )
    j = gop.join(ft, "doc_id").join(lid, "doc_id")
    n_pass = (
        F.col("gopher_pass").cast("int")
        + F.col("fasttext_pass").cast("int")
        + F.col("langid_agrees").cast("int")
    )
    return j.select(
        "doc_id",
        "source",
        "gopher_pass",
        "fasttext_pass",
        "langid_agrees",
        (n_pass >= 2).alias("keep"),
        n_pass.cast("int").alias("n_pass"),
    )


# --------------------------------------------------------------------------
# eval_semdedup_agreement
# --------------------------------------------------------------------------

_SDA_SQL = """
    WITH RECURSIVE src AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
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
    lsh AS (
      SELECT vec_id, vec_id = canonical_vec AS kept FROM comp
    ),
    cw AS (
      SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM corpus
    ),
    per_dim AS (
      SELECT label, d,
             CAST(sum(CAST(floor(e[d] * 1e6) AS BIGINT)) AS DOUBLE)
               / CAST(1000000 * count(*) AS DOUBLE) AS cval
      FROM src, generate_series(1, 64) t(d)
      GROUP BY label, d
    ),
    cent AS (SELECT label, list(cval ORDER BY d) AS ce FROM per_dim GROUP BY label),
    cent_n AS (
      SELECT label AS cl, ce, sqrt(list_inner_product(ce, ce)) AS cn FROM cent
    ),
    assign AS (
      SELECT vec_id, e, nrm, cl
      FROM (
        SELECT cw.vec_id, cw.e, cw.nrm, cn.cl,
               row_number() OVER (
                 PARTITION BY cw.vec_id
                 ORDER BY round(list_inner_product(cw.e, cn.ce)
                                / (cw.nrm * cn.cn), 6) DESC, cn.cl) AS rn
        FROM cw CROSS JOIN cent_n cn
        WHERE cw.nrm > 0
      ) WHERE rn = 1
    ),
    sizes AS (SELECT cl, CAST(count(*) AS BIGINT) AS csz FROM assign GROUP BY 1),
    ok AS (SELECT a.* FROM assign a JOIN sizes s USING (cl) WHERE s.csz <= 2048),
    ipairs AS (
      SELECT x.vec_id AS u, y.vec_id AS v
      FROM ok x JOIN ok y ON x.cl = y.cl AND x.vec_id < y.vec_id
      WHERE round(list_inner_product(x.e, y.e) / (x.nrm * y.nrm), 6) >= 0.9
    ),
    prior AS (
      SELECT v AS vec_id, CAST(count(*) AS BIGINT) AS n_close_prior
      FROM ipairs GROUP BY 1
    ),
    ivf AS (
      SELECT a.vec_id, coalesce(p.n_close_prior, 0) = 0 AS kept
      FROM assign a LEFT JOIN prior p USING (vec_id)
    )
    SELECT i.vec_id >= 100000 AS is_twin,
           coalesce(l.kept, TRUE) AS kept_lsh,
           i.kept AS kept_ivf,
           CAST(count(*) AS BIGINT) AS n
    FROM ivf i LEFT JOIN lsh l USING (vec_id)
    GROUP BY 1, 2, 3
"""


@register(
    "eval_semdedup_agreement",
    oracle=_SDA_SQL,
    tags=("eval", "dedup", "similarity", "llm"),
)
def eval_semdedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method semantic-dedup audit: run BOTH embedding dedupers on
    the same planted-twin corpus — dedup_semantic_embedding (SRP-LSH
    candidates + transitive star-contraction clusters, keep the cluster
    minimum) and dedup_semdedup_prune (nearest-exact-centroid IVF
    buckets, keep-min per close pair) — and reduce the per-vector keep
    verdicts to the (is_twin, kept_lsh, kept_ivf) confusion cells. The
    planted twins are ground truth (every twin SHOULD be pruned, every
    original kept), so the cells read directly as each method's twin
    recall and original false-prune rate, and the off-diagonal cells
    (methods disagree) are exactly the vectors where the LSH banding
    and the coarse quantizer draw different candidate boundaries — the
    method-selection evidence SemDeDup-style pipelines need before
    committing a candidate-generation strategy at 100 TB.

    Plan shape: a composite of the two already-verified pipelines
    (each one's documented posture unchanged) joined at vec grain; the
    LSH frame only covers clustered vectors, so kept_lsh coalesces to
    true (unclustered = kept). Output is the bounded cell table
    (<= 8 rows). Composite cost is the sum of its two legs by
    construction — the same adjudication class as
    dedup_ensemble_agreement and corpus_curation_pipeline."""
    from concurrent.futures import ThreadPoolExecutor

    from etl_caic_spark.plans.wave11b import dedup_semantic_embedding
    from etl_caic_spark.plans.wave20a import dedup_semdedup_prune

    # r16 (guide §2.6, the dedup_ensemble_agreement pattern): both leg
    # BUILDS block the driver on internal materializations (the SRP
    # pipeline's checkpoints + the gated-CC probe on the LSH side, the
    # assignment checkpoint on the IVF side) and are fully independent —
    # a 2-thread pool overlaps them; materialization order cannot
    # change either leg's rows. submit_inheriting runs each leg under
    # this thread's job group and description.
    with ThreadPoolExecutor(max_workers=2) as pool:
        flsh = submit_inheriting(pool, spark, dedup_semantic_embedding, spark, sf_dir)
        fivf = submit_inheriting(pool, spark, dedup_semdedup_prune, spark, sf_dir)
        lsh = flsh.result().select(
            "vec_id", F.col("is_kept").alias("kept_lsh")
        )
        ivf = fivf.result().select(
            "vec_id", F.col("is_kept").alias("kept_ivf")
        )
    j = ivf.join(lsh, "vec_id", "left").select(
        (F.col("vec_id") >= 100000).alias("is_twin"),
        F.coalesce("kept_lsh", F.lit(True)).alias("kept_lsh"),
        "kept_ivf",
    )
    return j.groupBy("is_twin", "kept_lsh", "kept_ivf").agg(
        F.count("*").cast("bigint").alias("n")
    )


# --------------------------------------------------------------------------
# data_rho_selection
# --------------------------------------------------------------------------

_RHO_K = 10

_RHO_SQL = f"""
    WITH w AS (
      SELECT doc_id, source,
             [w for w in string_split(text, ' ') if len(w) > 0] AS ws
      FROM documents
    ),
    h AS (
      SELECT doc_id, source,
             list_transform(ws, w -> list_reduce(list_prepend(0,
               [CAST(ord(c) AS BIGINT) for c in string_split(w, '')]),
               (acc, c) -> (acc * 31 + c) % 1048576)) AS hs
      FROM w
    ),
    s AS (
      SELECT doc_id, source, CAST(len(hs) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(hs,
               g -> g % 2001 - 1000)), 0) AS BIGINT) AS score_train,
             CAST(coalesce(list_sum(list_transform(hs,
               g -> (g * 13 + 7) % 2001 - 1000)), 0) AS BIGINT) AS score_ref
      FROM h
    )
    SELECT source, doc_id, n_words, score_train, score_ref,
           score_ref - score_train AS rho_milli, rnk
    FROM (
      SELECT *, score_ref - score_train AS rho_milli,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY score_ref - score_train DESC, doc_id) AS INT) AS rnk
      FROM s
    )
    WHERE rnk <= {_RHO_K}
"""


@register(
    "data_rho_selection",
    oracle=_RHO_SQL,
    tags=("data", "sampling", "llm", "curation"),
)
def data_rho_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss-style data selection: keep each source's top-{_RHO_K}
    documents by EXCESS loss — train-model hardness minus reference-
    model hardness, i.e. "hard for the current model but easy for a
    model trained on clean data", the published reducible-holdout-loss
    selection signal. Both models are frozen linear scorers over the
    SAME per-word polynomial hash (score_train IS
    quality_fasttext_linear's table; score_ref remaps the identical
    hash through a second affine table (h*13 + 7) mod 2001 - 1000), so
    the excess reduces to the exact integer score_ref - score_train —
    no float, same denominator (same word count), bit-identical on
    both engines. Deterministic rank: excess DESC, doc_id.

    Plan shape: the word-hash array is computed ONCE and materialized
    as a real projection column (the round's HOF-invariant law), then
    BOTH model scores fold in ONE struct-accumulator aggregate pass;
    selection is a per-source window over doc grain — one scan, one
    shuffle at source grain. Inherits the F.ascii <-> ord ASCII
    contract of the scorer family."""
    d = load_table(spark, sf_dir, "documents")
    word_hash = lambda w: F.aggregate(  # noqa: E731
        F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + c) % 1048576,
    )
    ws = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
    hv = widen_narrow_scan(d).select(
        "doc_id", "source", F.transform(ws, word_hash).alias("hs")
    )
    zero = F.struct(
        F.lit(0).cast("bigint").alias("a"), F.lit(0).cast("bigint").alias("b")
    )
    tot = F.aggregate(
        F.col("hs"),
        zero,
        lambda acc, g: F.struct(
            (acc["a"] + (g % 2001 - 1000)).alias("a"),
            (acc["b"] + ((g * 13 + 7) % 2001 - 1000)).alias("b"),
        ),
    )
    s = hv.select(
        "doc_id",
        "source",
        F.size("hs").cast("bigint").alias("n_words"),
        tot["a"].alias("score_train"),
        tot["b"].alias("score_ref"),
    ).withColumn("rho_milli", F.col("score_ref") - F.col("score_train"))
    wr = Window.partitionBy("source").orderBy(
        F.desc("rho_milli"), F.asc("doc_id")
    )
    return (
        s.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= _RHO_K)
        .select(
            "source",
            "doc_id",
            "n_words",
            "score_train",
            "score_ref",
            "rho_milli",
            "rnk",
        )
    )
