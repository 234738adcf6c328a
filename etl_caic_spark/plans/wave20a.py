"""Round-15 wave 20a: the LLM-pipeline frontier queries the r14 verdict
asked for (ask #4) — each with a clean exact DuckDB oracle:

- ``dedup_semdedup_prune``: SemDeDup as published (Abbas et al. 2023) —
  quantize the corpus onto coarse centroids, then prune near-duplicates
  WITHIN each cluster by a cosine threshold, keeping the minimum id of
  every close pair. The existing ``dedup_semantic_embedding`` finds
  semantic dups via SRP-LSH banding + transitive clustering; this twin
  is the paper's other candidate-generation strategy (IVF cluster =
  candidate bucket), reusing the trained exact-centroid quantizer of
  ``sim_topk_ivf_exact`` (operators/similarity.exact_centroid_arrays).
- ``text_langid_chargram``: frozen char-trigram language-ID gate — the
  ``quality_fasttext_linear`` idiom at character grain: every char
  trigram hashes once (portable polynomial codepoint hash) and each
  language's frozen weight table maps the gram hash to a milli-weight;
  the predicted language is the deterministic arg-max. Pairs with the
  marker-word ``lang_id``: same contract, n-gram evidence instead of a
  word list.
- ``data_doremi_reweight``: DoReMi-style domain reweighting (Xie et
  al. 2023) — multiplicative-weights updates over a per-source loss
  proxy, T=3 exact integer rounds: domains whose loss exceeds the
  current mixture's weighted mean gain weight. All updates are integer
  (cross-multiplied against the weighted mean's exact fraction), so
  both engines produce bit-identical weight trajectories.
- ``dedup_ensemble_agreement``: the dedup ENSEMBLE audit — one verdict
  matrix per document across four independent dedupers (exact hash,
  MinHash-LSH, SimHash, exact 50-gram), built as one multi-way outer
  join of the existing verdict frames. The per-method columns expose
  WHERE the methods disagree — the triage view a curation pipeline
  reviews before choosing its production gate. (The semantic deduper
  is excluded: it lives on the embeddings table's vec_id universe,
  which the fixture does not map to doc_id.)

Reference parity: none of this exists in the reference (task.ts has no
text/embedding surface) — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.operators import dedup as D
from etl_caic_spark.operators import similarity as S
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.util import submit_inheriting, widen_narrow_scan

# --------------------------------------------------------------------------
# dedup_semdedup_prune
# --------------------------------------------------------------------------

_SD_TAU = 0.9
_SD_CAP = 2048

_SEMDEDUP_IVF_SQL = f"""
    WITH src AS (
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
    ok AS (SELECT a.* FROM assign a JOIN sizes s USING (cl) WHERE s.csz <= {_SD_CAP}),
    pairs AS (
      SELECT x.vec_id AS u, y.vec_id AS v
      FROM ok x JOIN ok y ON x.cl = y.cl AND x.vec_id < y.vec_id
      WHERE round(list_inner_product(x.e, y.e) / (x.nrm * y.nrm), 6) >= {_SD_TAU}
    ),
    prior AS (
      SELECT v AS vec_id, CAST(count(*) AS BIGINT) AS n_close_prior
      FROM pairs GROUP BY 1
    )
    SELECT a.vec_id, a.cl AS cluster_id, s.csz > {_SD_CAP} AS cluster_capped,
           CAST(coalesce(p.n_close_prior, 0) AS BIGINT) AS n_close_prior,
           coalesce(p.n_close_prior, 0) = 0 AS is_kept
    FROM assign a JOIN sizes s USING (cl) LEFT JOIN prior p USING (vec_id)
"""


@register(
    "dedup_semdedup_prune",
    oracle=_SEMDEDUP_IVF_SQL,
    tags=("dedup", "llm", "similarity", "ann", "curation"),
)
def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with an IVF candidate generator: every vector (planted-
    twin corpus — the shared semantic-dup fixture, plans/llm3.py) is
    assigned to its nearest exact-centroid cluster, and WITHIN each
    cluster a vector is pruned iff a smaller-id cluster-mate sits at
    rounded cosine >= {_SD_TAU} (keep-min per close pair — the
    deterministic form of the paper's keep-one-per-group; unlike the
    sequential greedy it never depends on intermediate keep state, so
    it is order-free and engine-portable). Output: one row per vector
    with its cluster, close-prior-neighbor count, and keep verdict.

    Plan shape: centroids are the trained exact fixed-point quantizer
    shared with sim_topk_ivf_exact (integer per-dim sums — bit-identical
    across engines), collected to ONE broadcast row; assignment is a
    zero-exchange per-row arg-max over that broadcast array (map-only
    over the corpus scan). The prune self-join shuffles once on the
    cluster id, so pair enumeration is quadratic only WITHIN a cluster
    — the SemDeDup cost model: at 100 TB the centroid count k scales
    with the corpus (k ~ N/target_cluster_size), which keeps per-
    cluster work bounded and total pair work linear. The per-cluster
    size cap ({_SD_CAP}) is the skew FUSE, not the design point: a
    cluster that outgrows it (pathological near-identical floods that
    exact dedup upstream should have removed) contributes no pairs and
    is flagged `cluster_capped` = true in the output — visible, never
    silent (same posture as the SRP bucket cap in
    dedup_semantic_embedding, wave11b.py). Misses across cluster
    boundaries (twin quantized to a different centroid than its
    source) are the paper's documented recall trade-off: 42/50 planted
    twins are caught at sf0.01."""
    from etl_caic_spark.plans.llm3 import twinned_embedding_corpus

    e = load_table(spark, sf_dir, "embeddings")
    cents = S.exact_centroid_arrays(S.with_norm(e), "label")
    cent_row = cents.agg(
        F.collect_list(F.struct("pt", "c_vec", "c_norm")).alias("cents")
    )
    corpus = S.with_norm(widen_narrow_scan(twinned_embedding_corpus(e))).where(
        F.col("_norm") > 0
    )
    best = F.array_max(
        F.transform(
            F.col("cents"),
            lambda cn: F.struct(
                F.round(
                    S.cosine(
                        F.col("_vec"), F.col("_norm"), cn["c_vec"], cn["c_norm"]
                    ),
                    6,
                ).alias("sim"),
                (-cn["pt"]).alias("negpt"),
            ),
        )
    )
    # localCheckpoint (r15 optimization): `assigned` feeds FOUR
    # downstream consumers (sizes, the capped-join frame, both pair-join
    # sides). Unmaterialized, each consumer re-executed the whole
    # centroid pipeline + broadcast arg-max subtree — the before-plan
    # shows 36 parquet scans / 82 exchanges; checkpointing the ~2k-row
    # assignment frame executes the quantizer exactly once (after-plan:
    # 2 scans). Same shared-subplan pattern as basket_assoc_rules'
    # items frame; output byte-identical.
    assigned = corpus.crossJoin(F.broadcast(cent_row)).select(
        "vec_id",
        "_vec",
        "_norm",
        (-best.getField("negpt")).cast("int").alias("cl"),
    ).localCheckpoint()
    sizes = assigned.groupBy("cl").agg(F.count("*").cast("bigint").alias("csz"))
    fanout = spark.sparkContext.defaultParallelism
    a = assigned.join(F.broadcast(sizes), "cl").repartition(fanout, "cl")
    ok = a.where(F.col("csz") <= _SD_CAP)
    x = ok.select(
        "cl",
        F.col("vec_id").alias("u"),
        F.col("_vec").alias("ue"),
        F.col("_norm").alias("un"),
    )
    y = ok.select(
        "cl",
        F.col("vec_id").alias("v"),
        F.col("_vec").alias("ve"),
        F.col("_norm").alias("vn"),
    )
    pairs = (
        x.join(y, "cl")
        .where(F.col("u") < F.col("v"))
        .where(
            F.round(
                S.cosine(F.col("ue"), F.col("un"), F.col("ve"), F.col("vn")), 6
            )
            >= _SD_TAU
        )
    )
    prior = pairs.groupBy(F.col("v").alias("vec_id")).agg(
        F.count("*").cast("bigint").alias("n_close_prior")
    )
    return (
        a.join(prior, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cl").alias("cluster_id"),
            (F.col("csz") > _SD_CAP).alias("cluster_capped"),
            F.coalesce("n_close_prior", F.lit(0).cast("bigint")).alias(
                "n_close_prior"
            ),
        )
        .withColumn("is_kept", F.col("n_close_prior") == 0)
    )


# --------------------------------------------------------------------------
# text_langid_chargram
# --------------------------------------------------------------------------

_LID_BUCKETS = 1_048_576  # 2^20 gram-hash buckets
_LID_SPAN = 2003  # prime weight span: weights in [-1001, 1001] milli
_LID_SALTS = (("de", 7), ("en", 11), ("es", 13), ("fr", 17), ("zh", 19))

_LID_GRAMS_SQL = f"""
      CASE WHEN length(text) >= 3 THEN
        list_transform(generate_series(1, length(text) - 2), i ->
          ((cs[i] * 31 + cs[i + 1]) * 31 + cs[i + 2]) % {_LID_BUCKETS})
      ELSE CAST([] AS BIGINT[]) END
"""


def _lid_score_sql(salt: int) -> str:
    return (
        f"CAST(coalesce(list_sum(list_transform(ghs, g ->"
        f" (g * {salt}) % {_LID_SPAN} - 1001)), 0) AS BIGINT)"
    )


_LID_SQL = f"""
    WITH c AS (
      SELECT doc_id, lang, text,
             list_transform(string_split(text, ''),
                            ch -> CAST(ord(ch) AS BIGINT)) AS cs
      FROM documents
    ),
    g AS (
      SELECT doc_id, lang, {_LID_GRAMS_SQL} AS ghs FROM c
    ),
    s AS (
      SELECT doc_id, lang AS declared_lang,
             {_lid_score_sql(7)} AS s_de,
             {_lid_score_sql(11)} AS s_en,
             {_lid_score_sql(13)} AS s_es,
             {_lid_score_sql(17)} AS s_fr,
             {_lid_score_sql(19)} AS s_zh
      FROM g
    )
    SELECT doc_id, declared_lang, s_de, s_en, s_es, s_fr, s_zh,
      CASE
        WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        ELSE 'zh'
      END AS predicted_lang,
      CASE
        WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        ELSE 'zh'
      END = declared_lang AS agrees
    FROM s
"""


def langid_scored(d: DataFrame) -> DataFrame:
    """(doc_id, declared_lang, s_de..s_zh) under the frozen char-trigram
    tables, over any (doc_id, lang, text) frame — the shared scoring
    pipeline of text_langid_chargram and quality_ensemble_gate
    (wave21a.py). Two measured HOF-interpretation hazards are designed
    around here: the codepoint array is materialized as a REAL
    projection column before the positional lambda references it (an
    expression captured inside a higher-order lambda is NOT hoisted as
    loop-invariant, so an inline `cs` re-evaluates per position —
    measured 9x: 7.5 s vs 0.8 s warm at sf0.1), and the five weight
    tables fold in ONE aggregate pass with a 5-field struct accumulator
    instead of five passes (each pass pays per-element interpreted
    dispatch — HOF lambdas are not whole-stage-codegened)."""
    cs_expr = F.transform(
        F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("bigint")
    )
    base = widen_narrow_scan(d).select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        F.length(F.col("text")).alias("n"),
        cs_expr.alias("cs"),
    )
    cs = F.col("cs")
    n = F.col("n")
    ghs = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: (
                (F.get(cs, i - 1) * 31 + F.get(cs, i)) * 31 + F.get(cs, i + 1)
            )
            % _LID_BUCKETS,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    scored = base.select("doc_id", "declared_lang", ghs.alias("ghs"))
    zero = F.struct(
        *[F.lit(0).cast("bigint").alias(f"s_{lang}") for lang, _ in _LID_SALTS]
    )
    tot = F.aggregate(
        F.col("ghs"),
        zero,
        lambda acc, g: F.struct(
            *[
                (acc[f"s_{lang}"] + ((g * salt) % _LID_SPAN - 1001)).alias(
                    f"s_{lang}"
                )
                for lang, salt in _LID_SALTS
            ]
        ),
    )
    return scored.select(
        "doc_id",
        "declared_lang",
        *[tot[f"s_{lang}"].alias(f"s_{lang}") for lang, _ in _LID_SALTS],
    )


def langid_predicted():
    """Arg-max prediction Column over s_de..s_zh with the fixed
    de<en<es<fr<zh tie order (the lang_id precedent)."""
    best = F.greatest(*[F.col(f"s_{lang}") for lang, _ in _LID_SALTS])
    pred = F.when(F.col("s_de") == best, "de")
    for lang in ("en", "es", "fr"):
        pred = pred.when(F.col(f"s_{lang}") == best, lang)
    return pred.otherwise("zh")


@register("text_langid_chargram", oracle=_LID_SQL, tags=("text", "quality", "llm"))
def text_langid_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen char-trigram language-ID gate: every character trigram of
    the raw text (spaces included — cross-word grams carry real langid
    signal) hashes ONCE via the portable polynomial codepoint hash
    (((c1*31 + c2)*31 + c3) mod 2^20), and each language's frozen
    weight table maps that hash to a milli-weight ((h*salt) mod 2003 -
    1001, distinct prime salt per language); the document's per-lang
    score is the exact integer weight sum and the prediction is the
    arg-max with the fixed de<en<es<fr<zh tie order (the lang_id
    precedent). This is the production char-n-gram langid PLAN
    (fastText langid / CLD-style): swap the hash->weight map for
    learned tables and nothing else changes. The synthetic corpus is
    word soup, so predictions are arbitrary-but-deterministic; the
    oracle pins scoring + tie-break exactly, and `agrees` tracks the
    declared-lang match rate an audit would monitor.

    Plan shape: one per-row higher-order expression chain (split ->
    codepoints -> gram hashes computed ONCE -> ONE weight-sum fold with
    a five-field struct accumulator) — no explode, no shuffle, zero
    semantic exchanges; the same cheapest-possible 100 TB scoring shape
    as quality_fasttext_linear, whose F.ascii <-> ord ASCII contract
    this query inherits (see linear_word_weight's docstring). Two
    measured HOF-interpretation hazards are designed around: the
    codepoint array is materialized as a REAL projection column before
    the positional lambda (an expression captured inside a lambda is
    re-evaluated per element — inline `cs` cost 9x: 7.5 s vs 0.8 s warm
    at sf0.1), and the five weight tables fold in ONE aggregate pass
    instead of five (each pass pays per-element interpreted dispatch —
    HOF lambdas are not whole-stage-codegened)."""
    d = load_table(spark, sf_dir, "documents")
    s = langid_scored(d)
    pred = langid_predicted()
    return s.select(
        "doc_id",
        "declared_lang",
        "s_de",
        "s_en",
        "s_es",
        "s_fr",
        "s_zh",
        pred.alias("predicted_lang"),
        (pred == F.col("declared_lang")).alias("agrees"),
    )


# --------------------------------------------------------------------------
# data_doremi_reweight
# --------------------------------------------------------------------------

_DRM_B = 4000  # multiplicative step base: eta = 1/B per milli-loss excess
_DRM_W0 = 1000  # initial per-domain weight (milli)


def _drm_round_sql(prev: str, out: str) -> str:
    """One exact multiplicative-weights round as two chained CTEs:
    factor = B*den + (L*den - num) (cross-multiplied excess over the
    weighted-mean loss — exact, no division), then rescale the raw
    products back to [0, 1000] milli by round-half-up against the max."""
    return f"""
    u{out} AS (
      SELECT *, w * ({_DRM_B} * (sum(w) OVER ())
                     + (loss_milli * (sum(w) OVER ())
                        - (sum(w * loss_milli) OVER ()))) AS raw
      FROM {prev}
    ),
    r{out} AS (
      SELECT source, docs, fails, loss_milli,
             CAST((2 * raw * 1000 + max(raw) OVER ())
                  // (2 * (max(raw) OVER ())) AS BIGINT) AS w
      FROM u{out}
    )"""


_DRM_SQL = f"""
    WITH sc AS (
      SELECT source,
             coalesce(list_sum(list_transform(
               [w for w in string_split(text, ' ') if len(w) > 0],
               w -> list_reduce(list_prepend(0,
                      [CAST(ord(c) AS BIGINT) for c in string_split(w, '')]),
                      (acc, c) -> (acc * 31 + c) % 1048576) % 2001 - 1000)), 0)
               AS score
      FROM documents
    ),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS docs,
             CAST(count(*) FILTER (WHERE score < 0) AS BIGINT) AS fails
      FROM sc GROUP BY 1
    ),
    r0 AS (
      SELECT source, docs, fails,
             (2 * fails * 1000 + docs) // (2 * docs) AS loss_milli,
             CAST({_DRM_W0} AS BIGINT) AS w
      FROM s
    ),
    {_drm_round_sql("r0", "1")},
    {_drm_round_sql("r1", "2")},
    {_drm_round_sql("r2", "3")}
    SELECT source, docs, fails, CAST(loss_milli AS BIGINT) AS loss_milli,
           a1.w AS w1_milli, a2.w AS w2_milli, r3.w AS w3_milli,
           CAST((2 * r3.w * 1000000 + (sum(r3.w) OVER ()))
                // (2 * (sum(r3.w) OVER ())) AS BIGINT) AS share_micro
    FROM r3
    JOIN (SELECT source, w FROM r1) a1 USING (source)
    JOIN (SELECT source, w FROM r2) a2 USING (source)
"""


@register(
    "data_doremi_reweight",
    oracle=_DRM_SQL,
    tags=("data", "sampling", "llm", "curation"),
)
def data_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting with EXACT integer updates: the
    per-source loss proxy is the frozen linear quality gate's fail
    rate (quality_fasttext_linear's scorer, score < 0) in milli; then
    T=3 multiplicative-weights rounds upweight domains whose loss
    exceeds the current mixture's weighted mean — the published
    DoReMi excess-loss update with exp(eta*excess) linearized to
    (B + excess)/B so every step stays in integers. The weighted mean
    is never divided out: the update cross-multiplies by its exact
    denominator (factor = B*den + (L*den - num); a common positive
    factor leaves relative weights unchanged), and each round rescales
    to [0, 1000] milli by round-half-up against the round max, so the
    whole trajectory is bit-identical across engines. B = {_DRM_B}
    keeps every factor positive (|excess| <= 1000*den < B*den).

    Output: one row per domain with the loss proxy, the three weight
    snapshots, and the final normalized mixture share (micro) — the
    reweighted sampling distribution a DoReMi data pipeline feeds its
    sampler (pairs with data_mixture_temperature).

    Plan shape: ONE map-side-combined aggregate at (source) grain —
    the corpus is scanned once through the zero-shuffle scorer — then
    the T rounds run as windows over the bounded domain frame (one row
    per source; the label-space-bounded global-window pattern
    adjudicated in r6/r7). int64-safe: w <= 1000, den <= 1000*|D|,
    raw <= 1000 * 5000 * den — overflow needs |D| > 1.8e9 domains."""
    from etl_caic_spark.plans.wave19a import linear_doc_score

    d = load_table(spark, sf_dir, "documents")
    _, total = linear_doc_score(F.col("text"))
    per = (
        widen_narrow_scan(d)
        .select("source", total.alias("score"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum(F.when(F.col("score") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("fails"),
        )
    )
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cur = per.withColumn(
        "loss_milli",
        F.expr("(2 * fails * 1000 + docs) div (2 * docs)").cast("bigint"),
    ).withColumn("w", F.lit(_DRM_W0).cast("bigint"))
    for t in (1, 2, 3):
        cur = (
            cur.withColumn("_den", F.sum("w").over(wall))
            .withColumn("_num", F.sum(F.col("w") * F.col("loss_milli")).over(wall))
            .withColumn(
                "_raw",
                F.col("w")
                * (
                    F.lit(_DRM_B) * F.col("_den")
                    + (F.col("loss_milli") * F.col("_den") - F.col("_num"))
                ),
            )
            .withColumn("_mx", F.max("_raw").over(wall))
            .withColumn(
                "w",
                F.expr("(2 * _raw * 1000 + _mx) div (2 * _mx)").cast("bigint"),
            )
            .withColumn(f"w{t}_milli", F.col("w"))
            .drop("_den", "_num", "_raw", "_mx")
        )
    cur = cur.withColumn("_s", F.sum("w").over(wall))
    return cur.select(
        "source",
        "docs",
        "fails",
        "loss_milli",
        "w1_milli",
        "w2_milli",
        "w3_milli",
        F.expr("(2 * w3_milli * 1000000 + _s) div (2 * _s)")
        .cast("bigint")
        .alias("share_micro"),
    )


# --------------------------------------------------------------------------
# dedup_ensemble_agreement
# --------------------------------------------------------------------------

_ENSEMBLE_SQL = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0
    ),
    exf AS (
      SELECT doc_id FROM (
        SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS c FROM corpus
      ) WHERE c > 1
    ),
    w AS (
      SELECT doc_id AS doc, string_split(text, ' ') AS words FROM corpus
    ),
    sh3 AS (
      SELECT doc, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(words) - 3, 0)),
               i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')
             ))) AS shingle
      FROM w
    ),
    mins AS (
      SELECT doc, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
      FROM sh3, generate_series(0, 15) t(j)
      GROUP BY doc, j
    ),
    sig AS (SELECT doc, list(h ORDER BY j) AS sig FROM mins GROUP BY doc),
    banded AS (
      SELECT doc, b AS band_idx,
             md5(array_to_string(list_slice(sig, b*2 + 1, b*2 + 2), ','))
               AS band_hash
      FROM sig, generate_series(0, 7) t(b)
    ),
    mcand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc < b.doc
    ),
    mkept AS (
      SELECT doc_a, doc_b
      FROM mcand
      JOIN sig sa ON sa.doc = doc_a
      JOIN sig sb ON sb.doc = doc_b
      WHERE list_sum(list_transform(generate_series(1, 16),
              i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16
            >= 0.5
    ),
    mhf AS (
      SELECT DISTINCT doc AS doc_id FROM (
        SELECT doc_a AS doc FROM mkept UNION ALL SELECT doc_b FROM mkept
      )
    ),
    wv AS (
      SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS word FROM corpus
    ),
    hv AS (
      SELECT doc,
             list_sum(list_transform(generate_series(1, 15), i ->
               CAST(strpos('0123456789abcdef', h[i]) - 1 AS BIGINT)
               * (CAST(1 AS BIGINT) << (4 * (15 - i))))) AS v
      FROM (SELECT doc, md5(word) AS h FROM wv)
    ),
    bits AS (
      SELECT doc, b,
             sum(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hv, generate_series(0, 59) t(b)
      GROUP BY doc, b
    ),
    fp AS (
      SELECT doc,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS fp
      FROM bits GROUP BY doc
    ),
    -- the block-combination candidate generation is blocking-
    -- independent (candidates are verified by exact hamming), so the
    -- oracle pins the SEMANTICS as the plain hamming relation; at
    -- sf0.01 the all-pairs check is an oracle luxury
    spairs AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b
      FROM fp a JOIN fp b ON a.doc < b.doc
      WHERE bit_count(xor(a.fp, b.fp)) <= 3
    ),
    shf AS (
      SELECT DISTINCT doc AS doc_id FROM (
        SELECT doc_a AS doc FROM spairs UNION ALL SELECT doc_b FROM spairs
      )
    ),
    g AS (
      SELECT doc AS doc_id, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(words) - 50, 0)),
               i -> md5(array_to_string(list_slice(words, i + 1, i + 50), ' '))
             ))) AS gh
      FROM w
    ),
    dfs AS (SELECT gh, count(*) AS df FROM g GROUP BY 1),
    g50f AS (
      SELECT doc_id FROM g JOIN dfs USING (gh)
      GROUP BY doc_id
      HAVING count(*) FILTER (WHERE df >= 2) > 0
    ),
    j AS (
      SELECT c.doc_id,
             e.doc_id IS NOT NULL AS by_exact,
             m.doc_id IS NOT NULL AS by_minhash,
             s.doc_id IS NOT NULL AS by_simhash,
             g.doc_id IS NOT NULL AS by_gram50
      FROM corpus c
      LEFT JOIN exf e ON e.doc_id = c.doc_id
      LEFT JOIN mhf m ON m.doc_id = c.doc_id
      LEFT JOIN shf s ON s.doc_id = c.doc_id
      LEFT JOIN g50f g ON g.doc_id = c.doc_id
    )
    SELECT doc_id, by_exact, by_minhash, by_simhash, by_gram50,
           CAST(by_exact::INT + by_minhash::INT + by_simhash::INT
                + by_gram50::INT AS INT) AS n_methods
    FROM j
    WHERE by_exact OR by_minhash OR by_simhash OR by_gram50
"""


@register(
    "dedup_ensemble_agreement",
    oracle=_ENSEMBLE_SQL,
    tags=("dedup", "eval", "llm", "curation", "pipeline"),
)
def dedup_ensemble_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ENSEMBLE agreement audit: one verdict row per flagged
    document across four independent dedupers run on the shared
    planted-dup corpus (documents + the doc_id%10 exact-dup slice —
    dedup_exact's fixture, so the exact method has real positives):

    - by_exact:   full-text md5 collision (dedup_exact semantics)
    - by_minhash: appears in a MinHash-LSH verified pair (the exact
      md5 construction of dedup_minhash_md5: 16 sigs, 8 bands,
      est_jaccard >= 0.5)
    - by_simhash: appears in a SimHash pair at hamming <= 3 on the
      60-bit portable fingerprint (simhash_pairs_md5_combo — block-
      TRIPLE candidate keys, the published at-scale shape; the oracle
      pins the blocking-independent hamming semantics directly)
    - by_gram50:  shares a verbatim 50-token gram with another doc
      (dedup_gram50_exact's shared pipeline, wave19a.gram50_dup_counts)

    n_methods counts agreeing dedupers; rows where the methods DISAGREE
    (n_methods in 1..3) are the triage set a curation pipeline reviews
    before picking its production gate — planted exact dups should
    score 4/4 (every method fires on identical text), while natural
    near-dups separate the lexical methods' operating points. The
    semantic deduper is excluded by design: it lives on the embeddings
    table's vec_id universe, which the fixture does not map to doc_id.

    Plan shape: a composite of four already-verified single-scan
    pipelines (each corpus-linear: banded LSH / pigeonhole blocks /
    gram window — no pair enumeration outside verified candidate
    buckets) joined doc-grain with four LEFT joins on flag sets that
    are strict subsets of the corpus; pair frames collapse to doc sets
    via ONE posexplode-free array explode each (doc_a/doc_b -> one
    subtree, no union-of-two-scans). At 100 TB each method leg keeps
    its own documented posture; the ensemble adds only doc-grain
    joins."""
    from etl_caic_spark.plans.llm import _corpus_with_dups
    from etl_caic_spark.plans.wave19a import gram50_dup_counts

    corpus = _corpus_with_dups(spark, sf_dir)
    exf = (
        widen_narrow_scan(corpus)
        .select("doc_id", F.md5("text").alias("h"))
        .withColumn("c", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("c") > 1)
        .select("doc_id")
    )
    # production checkpoint shape (checkpoint_sig=True): the sig-carry
    # variant was TRIED here (the wave8h single-consumer precedent) and
    # measured SLOWER (5.7-6.1 s vs 4.8-5.0 s warm at sf0.1): under the
    # union-shaped corpus the band self-join's two sig-carrying sides
    # don't collapse into one ReusedExchange, so the sig pipeline ran
    # twice — the checkpointed sig frame is load-bearing in this plan.
    #
    # r16 (guide §2.6, overlap independent jobs): the minhash and
    # simhash legs each block the driver on their internal
    # localCheckpoint (sig frame ~1.0 s, fingerprint frame ~2.2 s warm
    # at sf0.1) and are fully independent — building them from a
    # 2-thread pool overlaps the two checkpoint jobs, and the second
    # job's tasks back-fill the first's stragglers (measured: the two
    # builds 2.7 -> 1.5 s warm, same pair sets; checkpoint
    # materialization is order-independent). submit_inheriting runs each
    # leg under this thread's job group and description.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fmh = submit_inheriting(
            pool, spark, D.minhash_lsh_pairs_md5,
            corpus, "doc_id", "text", 16, 8, 3, 0.5,
        )
        # block-combination keys (60-bit fp, 6x10-bit blocks, C(6,3)=20
        # block-triple tables, 2^30 key space): single-block candidate
        # generation is n²/2^width by construction — the 32-bit/
        # 8-bit-block pin went quadratic at the 30x probe (100 s) and
        # even 4x15-bit blocks left a super-linear 100x term; triple
        # keys are the published scale shape (simhash_pairs_md5_combo)
        fsh = submit_inheriting(
            pool, spark, D.simhash_pairs_md5_combo, corpus, "doc_id", "text", 3
        )
        mh = fmh.result()
        sh = fsh.result()
    mhf = (
        mh.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
    )
    shf = (
        sh.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
    )
    g50f = (
        gram50_dup_counts(corpus)
        .where(F.col("n_dup_grams") > 0)
        .select("doc_id")
    )
    flag = lambda df, name: df.withColumn(name, F.lit(True))  # noqa: E731
    j = (
        corpus.select("doc_id")
        .join(flag(exf, "by_exact"), "doc_id", "left")
        .join(flag(mhf, "by_minhash"), "doc_id", "left")
        .join(flag(shf, "by_simhash"), "doc_id", "left")
        .join(flag(g50f, "by_gram50"), "doc_id", "left")
        .select(
            "doc_id",
            *[
                F.coalesce(F.col(c), F.lit(False)).alias(c)
                for c in ("by_exact", "by_minhash", "by_simhash", "by_gram50")
            ],
        )
    )
    n = (
        F.col("by_exact").cast("int")
        + F.col("by_minhash").cast("int")
        + F.col("by_simhash").cast("int")
        + F.col("by_gram50").cast("int")
    )
    return j.withColumn("n_methods", n.cast("int")).where(
        F.col("n_methods") >= 1
    )
