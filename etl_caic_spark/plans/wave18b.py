"""Round-13 wave 18b: composite pipeline flagships + the tokenizer
equity audit — the serving/audit compositions that chain the round's
operators end-to-end while staying fully SQL-expressible:

- ``corpus_tokenize_pack_shard``: the SERVING-side composite flagship
  (the complement of corpus_curation_pipeline's curation side):
  learned-BPE tokenize -> rendezvous shard placement -> greedy
  contiguous packing into fixed-budget training bins, reported per
  shard with exact fill rates. One query exercising the tokenizer,
  placement, and packing operators as a single plan.
- ``eval_contamination_report``: the three contamination gates the
  engine registers separately (exact substring, verbatim 13-gram,
  df-capped 3-shingle overlap) joined into ONE per-eval-doc report —
  the audit table a decontamination run actually publishes.
- ``text_tokenizer_parity``: per-language tokenizer fertility audit
  (BPE tokens per word, chars per token, fertility relative to the
  corpus-wide rate) — the multilingual tokenizer-equity measurement;
  a tokenizer whose merges favor one language shows parity > 1e6 for
  the others.

Reference parity: none of this exists in the reference (task.ts has no
text surface) — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.operators import dedup as D
from etl_caic_spark.plans.wave18a import (
    _DECON_EVAL_CAP,
    bpe_learn_sql_prefix,
    bpe_replace_sql,
)
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.util import widen_narrow_scan

# --------------------------------------------------------------------------
# corpus_tokenize_pack_shard
# --------------------------------------------------------------------------

_TPS_SHARDS = 8
_TPS_BUDGET = 512


def _tps_oracle() -> str:
    reps, crosses = bpe_replace_sql("sym")
    return (
        bpe_learn_sql_prefix()
        + f""",
    dw AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE len(w) > 0
    ),
    enc AS (
      SELECT doc_id,
             len(string_split(trim({reps}), ' ')) AS toks
      FROM (SELECT doc_id, w,
                   ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym
            FROM dw) {crosses}
    ),
    doc_toks AS (
      SELECT doc_id, CAST(sum(toks) AS BIGINT) AS n_tok
      FROM enc GROUP BY 1
    ),
    wts AS (
      SELECT doc_id, g.s AS shard,
             md5('tps-v1|' || CAST(g.s AS VARCHAR) || '|'
                 || CAST(doc_id AS VARCHAR)) AS weight
      FROM doc_toks,
           LATERAL (SELECT unnest(generate_series(0, {_TPS_SHARDS - 1}))
                    AS s) g
    ),
    placed AS (
      SELECT doc_id,
             CAST(max_by(shard, weight || '|'
                  || lpad(CAST(shard AS VARCHAR), 2, '0')) AS BIGINT)
               AS shard
      FROM wts GROUP BY doc_id
    ),
    packed AS (
      SELECT p.shard, d.n_tok,
             coalesce(sum(d.n_tok) OVER (
               PARTITION BY p.shard ORDER BY p.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM placed p JOIN doc_toks d USING (doc_id)
    ),
    per_shard AS (
      SELECT shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(max(cum_before // {_TPS_BUDGET}) + 1 AS BIGINT) AS n_bins
      FROM packed GROUP BY 1
    )
    SELECT shard, n_docs, n_tokens, n_bins,
           CAST((2 * CAST(n_tokens AS HUGEINT) * 1000000
                 + CAST(n_bins AS HUGEINT) * {_TPS_BUDGET})
                // (2 * CAST(n_bins AS HUGEINT) * {_TPS_BUDGET})
                AS BIGINT) AS fill_micro
    FROM per_shard
    """
    )


@register(
    "corpus_tokenize_pack_shard",
    oracle=_tps_oracle(),
    tags=("pipeline", "llm", "flagship", "scale"),
)
def corpus_tokenize_pack_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-side composite flagship: every document is (1)
    tokenized with the corpus-learned BPE merges (wave8e
    learned_merge_tops — the same frozen double-replace
    text_bpe_encode applies), (2) placed on one of {_TPS_SHARDS}
    shards by rendezvous hashing (portable md5 weights, seed
    'tps-v1' — the stable-placement primitive of
    data_rendezvous_shard), and (3) greedily packed into contiguous
    {_TPS_BUDGET}-token training bins within its shard (the
    text_pack_sequences window). Per shard: doc/token/bin counts and
    the exact fill rate in round-half-up micro (docs spanning a bin
    boundary are charged to their START bin, so fill can nose past
    1e6 — the greedy-contiguous convention, documented in
    text_pack_sequences).

    Plan shape: merge learning is the vocabulary-bounded sub-plan
    (one corpus word count); tokenization is one word explode + 3
    broadcast 1-row joins + codegen replaces, reduced to doc grain
    map-side; placement is a {_TPS_SHARDS}x projection + argmax
    groupBy (no join, no window); packing is ONE cumulative window
    partitioned by shard; the final rollup is {_TPS_SHARDS} rows. At
    100 TB every stage shuffles at doc grain or narrower — this is
    the dataloader-prep job a pretraining run executes, expressed as
    one declarative plan."""
    from etl_caic_spark.plans import wave8e

    tops = wave8e.learned_merge_tops(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    dw = (
        widen_narrow_scan(d)
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
    )
    enc = dw.select(
        "doc_id",
        F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("sym"),
    )
    aliases = []
    for i, top in enumerate(tops, start=1):
        a = f"t{i}"
        enc = enc.crossJoin(F.broadcast(top.alias(a)))
        aliases.append(a)
    doc_toks = (
        enc.select(
            "doc_id",
            F.size(
                F.split(F.trim(wave8e.apply_merges(F.col("sym"), aliases)), " ")
            ).alias("toks"),
        )
        .groupBy("doc_id")
        .agg(F.sum("toks").cast("bigint").alias("n_tok"))
    )
    wts = doc_toks.select(
        "doc_id",
        "n_tok",
        F.posexplode(F.array(*[F.lit(i) for i in range(_TPS_SHARDS)])).alias(
            "_", "shard"
        ),
    ).select(
        "doc_id",
        "n_tok",
        "shard",
        F.md5(
            F.concat(
                F.lit("tps-v1|"),
                F.col("shard").cast("string"),
                F.lit("|"),
                F.col("doc_id").cast("string"),
            )
        ).alias("weight"),
    )
    key = F.concat(
        F.col("weight"), F.lit("|"), F.lpad(F.col("shard").cast("string"), 2, "0")
    )
    placed = wts.groupBy("doc_id").agg(
        F.first("n_tok").alias("n_tok"),
        F.max(F.struct(key.alias("k"), F.col("shard")))
        .getField("shard")
        .cast("bigint")
        .alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = placed.select(
        "shard",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_before"),
    )
    per_shard = packed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        (F.max(F.expr(f"cum_before div {_TPS_BUDGET}")) + 1)
        .cast("bigint")
        .alias("n_bins"),
    )
    return per_shard.select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_bins",
        # n_tokens is a corpus-scale per-shard count: 2 * n_tokens * 1e6
        # overflows int64 at ~5e12 tokens/shard, inside the 100 TB design
        # point — widen to decimal(38,0)/HUGEINT (the parity_micro
        # discipline; r13 ADVICE).
        F.expr(
            f"(2 * cast(n_tokens as decimal(38,0)) * 1000000"
            f" + cast(n_bins as decimal(38,0)) * {_TPS_BUDGET})"
            f" div (2 * cast(n_bins as decimal(38,0)) * {_TPS_BUDGET})"
        )
        .cast("bigint")
        .alias("fill_micro"),
    )


# --------------------------------------------------------------------------
# eval_contamination_report
# --------------------------------------------------------------------------

_RPT_MOD = 37  # the frozen eval split of text_decontaminate_ngrams
# Same absolute eval-split bound as text_decontaminate_ngrams: the
# report broadcasts eval-side grams/probes, which is only sound if the
# eval suite is a FIXED artifact, not corpus/_RPT_MOD (r13 ADVICE class).
_RPT_CAP = _DECON_EVAL_CAP
_RPT_NGRAM = 13
_RPT_SHINGLE_MIN = 2
_RPT_DF_CAP = 20

_RPT_SQL = f"""
    WITH w AS (
      SELECT doc_id, text, n_chars, string_split(text, ' ') AS words,
             doc_id % {_RPT_MOD} = 0 AND doc_id < {_RPT_CAP} AS is_eval
      FROM documents
    ),
    eval_docs AS (SELECT doc_id, text, n_chars FROM w WHERE is_eval),
    -- gate 1: exact substring (30-char probe from each eval doc)
    probes AS (
      SELECT doc_id AS eval_doc, substr(text, 11, 30) AS probe
      FROM eval_docs WHERE n_chars >= 60
    ),
    exact_hits AS (
      SELECT p.eval_doc, CAST(count(*) AS BIGINT) AS n_exact_docs
      FROM probes p
      JOIN w t ON NOT t.is_eval AND contains(t.text, p.probe)
      GROUP BY 1
    ),
    -- gate 2: verbatim {_RPT_NGRAM}-gram
    g AS (
      SELECT doc_id, is_eval, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(words) - {_RPT_NGRAM}, 0)),
               i -> array_to_string(list_slice(words, i + 1, i + {_RPT_NGRAM}),
                                    ' ')
             ))) AS ng
      FROM w
    ),
    ngram_hits AS (
      SELECT e.doc_id AS eval_doc,
             CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_ngram_docs
      FROM (SELECT doc_id, ng FROM g WHERE is_eval) e
      JOIN (SELECT doc_id, ng FROM g WHERE NOT is_eval) t USING (ng)
      GROUP BY 1
    ),
    -- gate 3: df-capped 3-shingle overlap (>= {_RPT_SHINGLE_MIN} shared)
    s0 AS (
      SELECT doc_id, is_eval, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(words) - 3, 0)),
               i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')
             ))) AS sh
      FROM w
    ),
    s AS (
      SELECT doc_id, is_eval, sh
      FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM s0)
      WHERE df <= {_RPT_DF_CAP}
    ),
    sh_pairs AS (
      SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
             count(*) AS n_shared
      FROM (SELECT doc_id, sh FROM s WHERE is_eval) e
      JOIN (SELECT doc_id, sh FROM s WHERE NOT is_eval) t USING (sh)
      GROUP BY 1, 2
      HAVING count(*) >= {_RPT_SHINGLE_MIN}
    ),
    shingle_hits AS (
      SELECT eval_doc, CAST(count(*) AS BIGINT) AS n_shingle_docs
      FROM sh_pairs GROUP BY 1
    )
    SELECT d.doc_id AS eval_doc,
           coalesce(e.n_exact_docs, 0) AS n_exact_docs,
           coalesce(n.n_ngram_docs, 0) AS n_ngram_docs,
           coalesce(s2.n_shingle_docs, 0) AS n_shingle_docs,
           (coalesce(e.n_exact_docs, 0) > 0
            OR coalesce(n.n_ngram_docs, 0) > 0
            OR coalesce(s2.n_shingle_docs, 0) > 0) AS flagged
    FROM eval_docs d
    LEFT JOIN exact_hits e ON e.eval_doc = d.doc_id
    LEFT JOIN ngram_hits n ON n.eval_doc = d.doc_id
    LEFT JOIN shingle_hits s2 ON s2.eval_doc = d.doc_id
"""


@register(
    "eval_contamination_report",
    oracle=_RPT_SQL,
    tags=("eval", "llm", "curation", "pipeline"),
)
def eval_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The publishable decontamination audit: ONE row per eval-split
    document (doc_id % {_RPT_MOD} == 0 AND doc_id < {_RPT_CAP} — the
    same frozen, absolutely-bounded eval suite as
    text_decontaminate_ngrams, which is what licenses the eval-side
    broadcasts below) with all three gates the
    engine registers separately — exact 30-char substring hits
    (text_substring_contamination's BroadcastNestedLoopJoin shape,
    probes from the eval side), verbatim {_RPT_NGRAM}-gram collisions
    (text_decontaminate_ngrams' window), and df-capped 3-shingle
    overlap >= {_RPT_SHINGLE_MIN} (text_contamination's paraphrase
    gate) — plus the OR'd flag. Zero rows are kept (a clean eval doc
    reports 0/0/0/false), because the audit's deliverable is the
    complete table, not just the offenders.

    Plan shape: the eval side of every gate is tiny (corpus /
    {_RPT_MOD}) and broadcasts; the train corpus is scanned once per
    gate with NO train-side shuffle in gates 1-2 (broadcast joins)
    and a df-capped shingle join in gate 3; three left joins onto the
    eval dim assemble the report. At 100 TB this is three
    broadcast-probe passes — the decontamination posture of the
    published recipes, run as one query."""
    d = load_table(spark, sf_dir, "documents")
    base = widen_narrow_scan(d).select(
        "doc_id",
        "text",
        "n_chars",
        (
            (F.col("doc_id") % _RPT_MOD == 0) & (F.col("doc_id") < _RPT_CAP)
        ).alias("is_eval"),
    )
    eval_docs = base.filter("is_eval").select("doc_id", "text", "n_chars")
    train = base.filter(~F.col("is_eval"))

    probes = eval_docs.filter(F.col("n_chars") >= 60).select(
        F.col("doc_id").alias("eval_doc"),
        F.substring("text", 11, 30).alias("probe"),
    )
    exact_hits = (
        train.join(F.broadcast(probes), F.col("text").contains(F.col("probe")))
        .groupBy("eval_doc")
        .agg(F.count("*").cast("bigint").alias("n_exact_docs"))
    )

    g = base.select(
        "doc_id",
        "is_eval",
        F.explode(D.word_shingles("text", _RPT_NGRAM)).alias("ng"),
    )
    ngram_hits = (
        g.filter(~F.col("is_eval"))
        .select(F.col("doc_id").alias("train_doc"), "ng")
        .join(
            F.broadcast(
                g.filter("is_eval").select(F.col("doc_id").alias("eval_doc"), "ng")
            ),
            "ng",
        )
        .groupBy("eval_doc")
        .agg(F.count_distinct("train_doc").cast("bigint").alias("n_ngram_docs"))
    )

    s0 = base.select(
        "doc_id",
        "is_eval",
        F.explode(D.word_shingles("text", 3)).alias("sh"),
    )
    dfw = Window.partitionBy("sh")
    s = (
        s0.withColumn("_df", F.count("*").over(dfw))
        .filter(F.col("_df") <= _RPT_DF_CAP)
        .drop("_df")
    )
    sh_pairs = (
        s.filter(~F.col("is_eval"))
        .select(F.col("doc_id").alias("train_doc"), "sh")
        .join(
            s.filter("is_eval").select(F.col("doc_id").alias("eval_doc"), "sh"),
            "sh",
        )
        .groupBy("eval_doc", "train_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _RPT_SHINGLE_MIN)
    )
    shingle_hits = sh_pairs.groupBy("eval_doc").agg(
        F.count("*").cast("bigint").alias("n_shingle_docs")
    )

    rpt = (
        eval_docs.select(F.col("doc_id").alias("eval_doc"))
        .join(exact_hits, "eval_doc", "left")
        .join(ngram_hits, "eval_doc", "left")
        .join(shingle_hits, "eval_doc", "left")
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("bigint")  # noqa: E731
    return rpt.select(
        "eval_doc",
        z("n_exact_docs").alias("n_exact_docs"),
        z("n_ngram_docs").alias("n_ngram_docs"),
        z("n_shingle_docs").alias("n_shingle_docs"),
        (
            (z("n_exact_docs") > 0)
            | (z("n_ngram_docs") > 0)
            | (z("n_shingle_docs") > 0)
        ).alias("flagged"),
    )


# --------------------------------------------------------------------------
# text_tokenizer_parity
# --------------------------------------------------------------------------


def _parity_oracle() -> str:
    reps, crosses = bpe_replace_sql("sym")
    return (
        bpe_learn_sql_prefix()
        + f""",
    dw AS (
      SELECT lang, w
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE len(w) > 0
    ),
    enc AS (
      SELECT lang, len(w) AS chars,
             len(string_split(trim({reps}), ' ')) AS toks
      FROM (SELECT lang, w,
                   ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym
            FROM dw) {crosses}
    ),
    per_lang AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(chars) AS BIGINT) AS n_chars,
             CAST(sum(toks) AS BIGINT) AS n_tokens
      FROM enc GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_words) AS BIGINT) AS tw,
             CAST(sum(n_tokens) AS BIGINT) AS tt
      FROM per_lang
    )
    SELECT lang, n_words, n_tokens,
           CAST((2 * CAST(n_tokens AS HUGEINT) * 1000000 + n_words)
                // (2 * CAST(n_words AS HUGEINT)) AS BIGINT)
             AS fertility_micro,
           CAST((2 * CAST(n_chars AS HUGEINT) * 1000000 + n_tokens)
                // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT)
             AS chars_per_token_micro,
           CAST((2 * CAST(n_tokens AS HUGEINT) * tw * 1000000
                 + CAST(n_words AS HUGEINT) * tt)
                // (2 * CAST(n_words AS HUGEINT) * tt) AS BIGINT)
             AS parity_micro
    FROM per_lang CROSS JOIN tot
"""
    )


@register(
    "text_tokenizer_parity",
    oracle=_parity_oracle(),
    tags=("text", "llm", "eval"),
)
def text_tokenizer_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer equity audit of the learned BPE merges:
    fertility (tokens per word), compression (characters per token),
    and PARITY — each language's fertility relative to the corpus-wide
    rate, as the exact integer ratio (n_tokens * total_words * 1e6) /
    (n_words * total_tokens) in round-half-up micro. A tokenizer whose
    merges were learned on a skewed mix shows parity > 1e6 for the
    under-served languages — the published multilingual-fairness
    measurement, computed exactly.

    Plan shape: the same shared learning sub-plan + one word explode
    as text_bpe_encode, reduced at language grain; the corpus-wide
    totals are a broadcast 1-row frame. At 100 TB: one scan past the
    vocabulary-bounded learning, all integer."""
    from etl_caic_spark.plans import wave8e

    tops = wave8e.learned_merge_tops(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    dw = (
        widen_narrow_scan(d)
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
    )
    enc = dw.select(
        "lang",
        F.length("w").alias("chars"),
        F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("sym"),
    )
    aliases = []
    for i, top in enumerate(tops, start=1):
        a = f"t{i}"
        enc = enc.crossJoin(F.broadcast(top.alias(a)))
        aliases.append(a)
    per_lang = (
        enc.select(
            "lang",
            "chars",
            F.size(
                F.split(F.trim(wave8e.apply_merges(F.col("sym"), aliases)), " ")
            ).alias("toks"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("chars").cast("bigint").alias("n_chars"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
        )
    )
    tot = per_lang.agg(
        F.sum("n_words").cast("bigint").alias("tw"),
        F.sum("n_tokens").cast("bigint").alias("tt"),
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_words",
        "n_tokens",
        # n_tokens/n_chars are per-language corpus-scale counts: the
        # 2 * x * 1e6 numerators overflow int64 at ~5e12, inside the
        # 100 TB design point — widened like parity_micro (r13 ADVICE).
        F.expr(
            "(2 * cast(n_tokens as decimal(38,0)) * 1000000 + n_words)"
            " div (2 * cast(n_words as decimal(38,0)))"
        )
        .cast("bigint")
        .alias("fertility_micro"),
        F.expr(
            "(2 * cast(n_chars as decimal(38,0)) * 1000000 + n_tokens)"
            " div (2 * cast(n_tokens as decimal(38,0)))"
        )
        .cast("bigint")
        .alias("chars_per_token_micro"),
        # parity multiplies two corpus-scale counts by 1e6: the int64
        # product overflows past ~10x fixture scale (ANSI caught it at
        # the probe) — the operands widen to decimal(38,0)/HUGEINT, the
        # stat_bartlett discipline.
        F.expr(
            "(2 * cast(n_tokens as decimal(38,0)) * tw * 1000000"
            " + cast(n_words as decimal(38,0)) * tt)"
            " div (2 * cast(n_words as decimal(38,0)) * tt)"
        )
        .cast("bigint")
        .alias("parity_micro"),
    )
