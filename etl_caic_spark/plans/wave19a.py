"""Round-14 wave 19a: the LLM-pipeline frontier queries the r13 verdict
asked for (ask #5) — each with a clean exact DuckDB oracle:

- ``dedup_gram50_exact``: token-level exact 50-gram duplication report —
  the "Deduplicating Training Data" ExactSubstr recipe re-expressed at
  gram grain: a training document is flagged iff one of its verbatim
  50-token grams occurs in ANY other document (or twice in itself via a
  distinct-gram collision across docs). Pairs with dedup_paragraph_cdc
  (content-defined chunks) and text_decontaminate_ngrams (13-gram vs a
  frozen eval split); this is the train-vs-train long-window gate.
- ``quality_fasttext_linear``: a fastText-style linear quality
  classifier with FROZEN integer weights — every word hashes into a
  2^20 bucket via a portable polynomial code hash (the doc_fingerprint
  idiom) and the bucket maps to a deterministic milli-weight in
  [-1000, 1000]; the document score is the weight sum, the gate is
  score >= 0. The op under test is the hashed-bag-of-words scoring
  pass (the production classifier differs only in where the weight
  table comes from). Pairs with quality_gopher_rules.
- ``eval_crossmodal_recall``: text↔image retrieval recall — even
  vec_ids play the text tower, odd vec_ids the image tower, vec_id n's
  ground-truth counterpart is n+1 (the CLIP-style aligned-pair
  construction); per query, the exact-cosine rank of the true
  counterpart among all image vectors and the recall@{k} hit bit.
- ``eval_reward_margin``: RLHF-style reward-margin audit over the
  data_dpo_pairs output — re-scores each (chosen, rejected) pair with
  the frozen linear reward (quality_fasttext_linear's scorer) and
  reports the per-word reward margin as an exact integer fraction
  (cross-multiplied — no division, no sign-dependent rounding) plus
  whether the reward model agrees with the preference direction.

Reference parity: none of this exists in the reference (task.ts has no
text/embedding surface) — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.operators import dedup as D
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.util import widen_narrow_scan

# --------------------------------------------------------------------------
# dedup_gram50_exact
# --------------------------------------------------------------------------

_G50_N = 50

_G50_SQL = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(words) - {_G50_N}, 0)),
               i -> md5(array_to_string(
                      list_slice(words, i + 1, i + {_G50_N}), ' '))
             ))) AS gh
      FROM w
    ),
    dfs AS (SELECT gh, count(*) AS df FROM g GROUP BY 1),
    per AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(*) FILTER (WHERE df >= 2) AS BIGINT) AS n_dup_grams
      FROM g JOIN dfs USING (gh)
      GROUP BY 1
    )
    SELECT doc_id, n_grams, n_dup_grams,
           CAST((2 * n_dup_grams * 1000000 + n_grams)
                // (2 * n_grams) AS BIGINT) AS dup_micro
    FROM per
    WHERE n_dup_grams > 0
"""


def gram50_dup_counts(d: DataFrame) -> DataFrame:
    """Per-document {_G50_N}-gram counts (n_grams, n_dup_grams) over any
    (doc_id, text) frame — the shared gram pipeline of
    dedup_gram50_exact and dedup_ensemble_agreement (wave20a.py):
    md5-keyed grams, document frequency as ONE window over the gram
    partitioning, map-side-combined doc aggregate."""
    g = widen_narrow_scan(d).select(
        "doc_id",
        F.explode(
            F.transform(
                D.word_shingles("text", _G50_N), lambda s: F.md5(s)
            )
        ).alias("gh"),
    )
    dfw = Window.partitionBy("gh")
    tagged = g.withColumn("df", F.count("*").over(dfw))
    return tagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_grams"),
    )


@register(
    "dedup_gram50_exact",
    oracle=_G50_SQL,
    tags=("dedup", "text", "llm", "curation"),
)
def dedup_gram50_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {_G50_N}-token-gram duplication report (the "Deduplicating
    Training Data" ExactSubstr recipe at gram grain): every document
    whose distinct {_G50_N}-grams collide with another document's is
    flagged with its gram count, duplicated-gram count, and duplicated
    fraction in round-half-up integer micro. Documents shorter than
    {_G50_N} words contribute their full text as the one gram
    (word_shingles semantics), so short exact dupes still flag — the
    same guarantee dedup_exact gives, extended into long verbatim spans
    inside otherwise-distinct documents. The gram pipeline is shared
    with dedup_ensemble_agreement (wave20a.py) via gram50_dup_counts.

    Plan shape: grams are keyed by md5 BEFORE the shuffle, so the
    exchange moves 32-byte digests instead of ~300-byte 50-word
    strings; the document-frequency count is a window over the gram
    partitioning (ONE exchange serves both the count and the per-row
    df tag — no groupBy + re-join of the gram list), then one map-side
    combined aggregate at doc grain. Only flagged docs survive the
    final filter. At 100 TB: two linear shuffles; 50-grams are
    near-unique so the gram buckets carry no skew (the only repeated
    grams ARE the duplicates being counted, and a gram repeated d
    times costs d rows, not d²: no pair enumeration anywhere —
    this is what makes the exact recipe corpus-linear where pairwise
    Jaccard is not)."""
    d = load_table(spark, sf_dir, "documents")
    per = gram50_dup_counts(d)
    return per.filter(F.col("n_dup_grams") > 0).select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.expr("(2 * n_dup_grams * 1000000 + n_grams) div (2 * n_grams)")
        .cast("bigint")
        .alias("dup_micro"),
    )


# --------------------------------------------------------------------------
# quality_fasttext_linear
# --------------------------------------------------------------------------

_FT_BUCKETS = 1_048_576  # 2^20 hashed bag-of-words buckets
_FT_WSPAN = 2001  # weights in [-1000, 1000] milli


def linear_word_weight(w: Column) -> Column:
    """Frozen integer milli-weight of one word: portable polynomial
    codepoint hash (acc*31 + code, mod 2^20 — the doc_fingerprint hash
    family, expressible identically in DuckDB via list_reduce) mapped
    onto [-1000, 1000]. Stands in for a learned fastText weight table:
    the scoring PLAN is identical, only the table's provenance differs.

    ASCII contract (r14 verdict hygiene note): the per-char code is
    Spark ``F.ascii`` ↔ DuckDB ``ord``, which agree on ASCII but
    diverge on multi-byte codepoints (ascii returns the first BYTE of
    the UTF-8 encoding, ord the CODEPOINT). The fixture corpus is pure
    ASCII (hash-proven); on non-ASCII corpora, normalize first (e.g.
    a dedup_normalized_exact-style ascii-fold) or swap in a byte-wise
    hash — the weight-table lookup plan is unchanged either way."""
    codes = F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("bigint"))
    h = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + c) % _FT_BUCKETS,
    )
    return h % _FT_WSPAN - 1000


def linear_doc_score(text: Column) -> tuple[Column, Column]:
    """(n_words, total_weight_milli) of a document under the frozen
    linear model — a single per-row higher-order expression chain with
    NO explode and NO shuffle."""
    words = F.filter(F.split(text, " "), lambda w: F.length(w) > 0)
    total = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + linear_word_weight(w),
    )
    return F.size(words).cast("bigint"), total


_FT_WORD_SQL = (
    "list_reduce(list_prepend(0, [CAST(ord(c) AS BIGINT)"
    " for c in string_split(w, '')]),"
    f" (acc, c) -> (acc * 31 + c) % {_FT_BUCKETS}) % {_FT_WSPAN} - 1000"
)

_FT_SQL = f"""
    WITH s AS (
      SELECT doc_id, lang,
             [w for w in string_split(text, ' ') if len(w) > 0] AS ws
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(coalesce(list_sum(list_transform(ws, w ->
                {_FT_WORD_SQL})), 0) AS BIGINT) AS total_weight_milli,
           coalesce(list_sum(list_transform(ws, w ->
                {_FT_WORD_SQL})), 0) >= 0 AS passes
    FROM s
"""


@register(
    "quality_fasttext_linear",
    oracle=_FT_SQL,
    tags=("text", "quality", "llm", "curation"),
)
def quality_fasttext_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality gate with frozen integer weights:
    each word hashes into one of {_FT_BUCKETS} buckets (portable
    polynomial codepoint hash) whose deterministic milli-weight lies in
    [-1000, 1000]; the document score is the exact integer weight sum
    and the gate keeps score >= 0. This is the hashed-bag-of-words
    scoring pass of the published quality classifiers (CCNet/fastText):
    swap the hash->weight map for a learned table and the plan is the
    production scorer.

    Plan shape: the ENTIRE scorer is one per-row higher-order
    expression chain (split -> filter -> nested aggregate) — no
    explode, no shuffle, zero exchanges: a pure map over the corpus
    scan, the cheapest possible shape for a 100 TB scoring pass (and
    embarrassingly parallel across executors). All arithmetic is int64
    (bounded by 1000 * n_words per doc), bit-identical across engines.
    """
    d = load_table(spark, sf_dir, "documents")
    n_words, total = linear_doc_score(F.col("text"))
    return widen_narrow_scan(d).select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        total.alias("total_weight_milli"),
        (total >= 0).alias("passes"),
    )


# --------------------------------------------------------------------------
# eval_crossmodal_recall
# --------------------------------------------------------------------------

_CM_K = 10
_CM_MOD = 10  # query sample: text-tower vec_ids divisible by 10 (even)
_CM_CAP = 500  # absolute query-set bound (the _QR_CAP idiom)

_CM_SQL = f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    u AS (
      SELECT vec_id, list_transform(e, x -> x / nrm) AS ue FROM n
      WHERE nrm > 0
    ),
    q AS (
      SELECT vec_id AS query_id, ue AS q_ue FROM u
      WHERE vec_id % {_CM_MOD} = 0 AND vec_id < {_CM_CAP}
    ),
    img AS (SELECT vec_id, ue FROM u WHERE vec_id % 2 = 1),
    ranked AS (
      SELECT q.query_id, i.vec_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_inner_product(q.q_ue, i.ue), 6) DESC,
                        i.vec_id) AS rnk
      FROM q JOIN img i ON true
    )
    SELECT r.query_id,
           CAST(r.query_id + 1 AS BIGINT) AS true_id,
           CAST(r.rnk AS BIGINT) AS true_rank,
           r.rnk <= {_CM_K} AS hit
    FROM ranked r
    WHERE r.vec_id = r.query_id + 1
"""


@register(
    "eval_crossmodal_recall",
    oracle=_CM_SQL,
    tags=("similarity", "eval", "multimodal", "llm"),
)
def eval_crossmodal_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval audit on the embeddings fixture: even
    vec_ids are the text tower, odd vec_ids the image tower, and
    vec_id n's aligned counterpart is n+1 (the CLIP-style paired
    construction). For each text query (vec_id % {_CM_MOD} == 0,
    capped at vec_id < {_CM_CAP} — the eval_quantized_recall bound
    that keeps the audit's query set FIXED as the corpus grows), rank
    ALL image vectors by exact cosine (round(cos, 6), vec_id
    tiebreak — integer-decided, bit-portable) and report the true
    counterpart's rank plus the recall@{_CM_K} hit bit. The mean of
    `hit` is the retrieval recall the contrastive-training loop
    monitors; per-query rows keep the failure cases inspectable.

    Plan shape: the normalized frame feeds both towers as sibling
    subtrees with NO blocking checkpoint — each tower's vec_id parity
    filter pushes BELOW the interpreted normalize lambdas to the scan,
    so the odd half and the capped query slice each compute exactly
    their own lambdas (total < one corpus pass; a materializing
    barrier would cost a serialized job to save work that the
    pushdown already avoids). The bounded query slice BROADCASTS
    against the image tower (one nested-loop score pass, no shuffle
    of the corpus); the rank is one window exchange at query_id
    grain; the final filter keeps one row per query. At 100 TB: the
    image tower streams once past a fixed query set — corpus-linear;
    the production path would IVF-prune the same scoring
    expression."""
    e = load_table(spark, sf_dir, "embeddings")
    dbl = widen_narrow_scan(e).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with("e", "e", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    u = (
        dbl.select("vec_id", nrm.alias("nrm"), "e")
        .filter(F.col("nrm") > 0)
        .select(
            "vec_id",
            F.transform("e", lambda x: x / F.col("nrm")).alias("ue"),
        )
    )  # no barrier: each tower's parity filter pushes below the lambdas
    q = u.filter(
        (F.col("vec_id") % _CM_MOD == 0) & (F.col("vec_id") < _CM_CAP)
    ).select(F.col("vec_id").alias("query_id"), F.col("ue").alias("q_ue"))
    img = u.filter(F.col("vec_id") % 2 == 1)
    dot = F.aggregate(
        F.zip_with("ue", "q_ue", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = img.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", F.round(dot, 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    ranked = scored.select(
        "query_id", "vec_id", F.row_number().over(w).alias("rnk")
    )
    return ranked.filter(F.col("vec_id") == F.col("query_id") + 1).select(
        "query_id",
        (F.col("query_id") + 1).cast("bigint").alias("true_id"),
        F.col("rnk").cast("bigint").alias("true_rank"),
        (F.col("rnk") <= _CM_K).alias("hit"),
    )


# --------------------------------------------------------------------------
# eval_reward_margin
# --------------------------------------------------------------------------


def _reward_sql() -> str:
    from etl_caic_spark.plans.wave15a import _DPO_SQL

    return f"""
    WITH pairs AS ({_DPO_SQL}),
    s AS (
      SELECT doc_id,
             [w for w in string_split(text, ' ') if len(w) > 0] AS ws
      FROM documents
    ),
    sc AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS nw,
             CAST(coalesce(list_sum(list_transform(ws, w ->
                  {_FT_WORD_SQL})), 0) AS BIGINT) AS tw
      FROM s
    )
    SELECT p.source, p.lang, p.chosen_doc_id, p.rejected_doc_id,
           p.margin_chars,
           c.tw AS chosen_weight_milli, c.nw AS chosen_words,
           r.tw AS rejected_weight_milli, r.nw AS rejected_words,
           CAST(c.tw * r.nw - r.tw * c.nw AS BIGINT) AS reward_margin_num,
           CAST(c.nw * r.nw AS BIGINT) AS reward_margin_den,
           c.tw * r.nw - r.tw * c.nw >= 0 AS reward_agrees
    FROM pairs p
    JOIN sc c ON c.doc_id = p.chosen_doc_id
    JOIN sc r ON r.doc_id = p.rejected_doc_id
"""


@register(
    "eval_reward_margin",
    oracle=_reward_sql(),
    tags=("eval", "llm", "data", "pipeline"),
)
def eval_reward_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF reward-margin audit over the data_dpo_pairs output: each
    (chosen, rejected) preference pair is RE-scored with the frozen
    linear reward model (quality_fasttext_linear's scorer), and the
    per-word reward margin mean(chosen) - mean(rejected) is reported
    as the exact integer fraction (tw_c*nw_r - tw_r*nw_c) /
    (nw_c*nw_r) — cross-multiplied so there is NO division and NO
    sign-dependent integer-rounding hazard — plus the agreement bit
    (does the reward model rank the pair the way the preference
    extractor did). The fleet-level mean of `reward_agrees` is the
    reward/preference agreement rate an RLHF data audit tracks.

    Plan shape: the pair frame is GROUP-grain (one row per
    (source, lang) — bounded by the label-space product, never by the
    corpus) and BROADCASTS to both score joins; the per-doc scores are
    the shuffle-free per-row expression chain of
    quality_fasttext_linear, so the whole audit is one corpus scan +
    two broadcast hash joins. int64 bounds: |tw| <= 1000*nw, so the
    cross product is < 1000 * nw_c * nw_r — safe to ~3e7-word
    documents, far past any real document.

    ASCII contract: the scorer inherits linear_word_weight's
    ``F.ascii`` ↔ ``ord`` portability bound — exact on ASCII corpora
    (the fixture is pure ASCII, hash-proven); normalize non-ASCII text
    upstream (see linear_word_weight's docstring)."""
    from etl_caic_spark.plans.wave15a import data_dpo_pairs

    pairs = data_dpo_pairs(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    n_words, total = linear_doc_score(F.col("text"))
    sc = widen_narrow_scan(d).select(
        "doc_id", n_words.alias("nw"), total.alias("tw")
    )
    j = (
        sc.select(
            F.col("doc_id").alias("chosen_doc_id"),
            F.col("tw").alias("chosen_weight_milli"),
            F.col("nw").alias("chosen_words"),
        )
        .join(F.broadcast(pairs), "chosen_doc_id")
        .join(
            sc.select(
                F.col("doc_id").alias("rejected_doc_id"),
                F.col("tw").alias("rejected_weight_milli"),
                F.col("nw").alias("rejected_words"),
            ),
            "rejected_doc_id",
        )
    )
    num = F.col("chosen_weight_milli") * F.col("rejected_words") - F.col(
        "rejected_weight_milli"
    ) * F.col("chosen_words")
    return j.select(
        "source",
        "lang",
        "chosen_doc_id",
        "rejected_doc_id",
        "margin_chars",
        "chosen_weight_milli",
        "chosen_words",
        "rejected_weight_milli",
        "rejected_words",
        num.cast("bigint").alias("reward_margin_num"),
        (F.col("chosen_words") * F.col("rejected_words"))
        .cast("bigint")
        .alias("reward_margin_den"),
        (num >= 0).alias("reward_agrees"),
    )
