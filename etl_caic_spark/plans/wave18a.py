"""Round-13 wave 18a: the LLM-pipeline frontier queries the r12 verdict
asked for (ask #5) — each with a clean exact DuckDB oracle:

- ``text_decontaminate_ngrams``: benchmark decontamination via 13-gram
  overlap against a frozen eval split (the public recipe: flag any
  training document sharing a verbatim 13-gram with the eval set).
  Pairs with text_substring_contamination (exact substring gate) and
  text_contamination (3-shingle paraphrase gate): this is the
  n-gram-at-benchmark-scale middle ground.
- ``eval_lsh_threshold_sweep``: extends eval_minhash_quality into a
  CURVE — precision/recall of the md5 MinHash+LSH deduper against
  exact Jaccard ground truth across three band/row configurations
  (16x1, 8x2, 4x4 over the same 16 signatures), the S-curve tradeoff
  every LSH deployment tunes.
- ``text_bpe_encode``: tokenizer-apply — encode the corpus with the 3
  merges bpe_learn_merges learns (shared sub-plan, wave8e), closing
  the learn->apply tokenizer loop; per-slice token counts before and
  after quantify the merges' compression.
- ``eval_quantized_recall``: embedding recall@10 under int8
  quantization — integer dot-product ranking of symmetrically
  quantized unit vectors vs the exact rounded-cosine baseline, the
  memory-bound ANN tradeoff (4x smaller vectors, integer SIMD) audited
  per query.

Reference parity: none of this exists in the reference (task.ts has no
text/embedding surface) — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.operators import dedup as D
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.util import widen_narrow_scan

# --------------------------------------------------------------------------
# text_decontaminate_ngrams
# --------------------------------------------------------------------------

_DECON_N = 13
_DECON_MOD = 37
# Absolute bound on the frozen eval split (the _QR_CAP idiom): without
# it the broadcast eval-gram index is corpus/_DECON_MOD of the 13-gram
# explode — linear in the corpus, breaching the 8 GB broadcast cap well
# before 100 TB (r13 ADVICE). A benchmark suite is a FIXED artifact;
# the cap models that.
_DECON_EVAL_CAP = 2000

_DECON_SQL = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(words) - {_DECON_N}, 0)),
               i -> array_to_string(list_slice(words, i + 1, i + {_DECON_N}), ' ')
             ))) AS ng
      FROM w
    ),
    ev AS (SELECT ng, doc_id AS eval_doc FROM g
           WHERE doc_id % {_DECON_MOD} = 0 AND doc_id < {_DECON_EVAL_CAP}),
    tr AS (SELECT doc_id, ng FROM g
           WHERE doc_id % {_DECON_MOD} <> 0 OR doc_id >= {_DECON_EVAL_CAP}),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
              FROM tr GROUP BY 1),
    hits AS (
      SELECT tr.doc_id,
             CAST(count(DISTINCT tr.ng) AS BIGINT) AS n_hit_ngrams,
             CAST(count(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
      FROM tr JOIN ev ON ev.ng = tr.ng
      GROUP BY 1
    )
    SELECT h.doc_id, s.n_ngrams, h.n_hit_ngrams, h.n_eval_docs,
           CAST((2 * h.n_hit_ngrams * 1000000 + s.n_ngrams)
                // (2 * s.n_ngrams) AS BIGINT) AS contamination_micro
    FROM hits h JOIN sizes s USING (doc_id)
"""


@register(
    "text_decontaminate_ngrams",
    oracle=_DECON_SQL,
    tags=("text", "llm", "curation", "dedup"),
)
def text_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every TRAINING document that
    shares at least one verbatim {_DECON_N}-gram with the frozen eval
    split (doc_id % {_DECON_MOD} == 0 AND doc_id < {_DECON_EVAL_CAP} —
    in production, the benchmark suite, a FIXED artifact whose size
    does not grow with the corpus; the absolute cap is what licenses
    the broadcast below), reporting how many of the doc's distinct
    {_DECON_N}-grams
    are contaminated, how many eval documents it collides with, and the
    contaminated fraction in round-half-up integer micro. 13 is the
    published decontamination window (the GPT-3-era recipe); documents
    shorter than {_DECON_N} words contribute their full text as one
    gram (word_shingles semantics), so short exact dupes still flag.

    Plan shape: one shingle explode over the corpus; the eval side of
    the n-gram index is BROADCAST — sound because the cap bounds it at
    ≤{_DECON_EVAL_CAP}/{_DECON_MOD} documents' grams regardless of
    corpus size (at 100 TB it is still only the eval sets), so the
    contamination probe is a broadcast hash join on the gram with NO
    shuffle of the training corpus; per-doc sizes ride a map-side
    combined aggregate; only CONTAMINATED docs reach the final join.
    The two count(DISTINCT) at contaminated-doc grain expand only the
    hit rows, bounded by |eval grams| x collisions."""
    d = load_table(spark, sf_dir, "documents")
    g = widen_narrow_scan(d).select(
        "doc_id",
        F.explode(D.word_shingles("text", _DECON_N)).alias("ng"),
    )
    ev = g.filter(
        (F.col("doc_id") % _DECON_MOD == 0)
        & (F.col("doc_id") < _DECON_EVAL_CAP)
    ).select("ng", F.col("doc_id").alias("eval_doc"))
    tr = g.filter(
        (F.col("doc_id") % _DECON_MOD != 0)
        | (F.col("doc_id") >= _DECON_EVAL_CAP)
    )
    sizes = tr.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_ngrams")
    )
    hits = (
        tr.join(F.broadcast(ev), "ng")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("ng").cast("bigint").alias("n_hit_ngrams"),
            F.count_distinct("eval_doc").cast("bigint").alias("n_eval_docs"),
        )
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_ngrams",
        "n_hit_ngrams",
        "n_eval_docs",
        F.expr(
            "(2 * n_hit_ngrams * 1000000 + n_ngrams) div (2 * n_ngrams)"
        )
        .cast("bigint")
        .alias("contamination_micro"),
    )


# --------------------------------------------------------------------------
# eval_lsh_threshold_sweep
# --------------------------------------------------------------------------

_SWEEP_BANDS = (16, 8, 4)  # rows/band = 16 // bands: 1, 2, 4
_SWEEP_HASHES = 16
# Stop-shingle document-frequency cap on the exact-truth leg (the
# dedup_jaccard_capped idiom): bounds the inverted-index self-join at
# df² candidate pairs per shingle bucket, turning the truth leg from
# quadratic-in-the-hottest-bucket to corpus-linear. Truth similarity is
# over informative (df <= cap) shingles only — sizes AND intersections
# both use the capped set, so the threshold decision is self-consistent.
# The LSH candidate legs keep the FULL shingle set (the production
# deduper does not cap). r13 verdict ask #3.
_SWEEP_DF_CAP = 20

_SWEEP_SIG_CTES = """
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
    cfg AS (SELECT unnest([16, 8, 4]) AS bands),
    banded AS (
      SELECT doc, bands, b AS band_idx,
             md5(array_to_string(
               list_slice(sig, b * (16 // bands) + 1,
                          b * (16 // bands) + (16 // bands)), ',')) AS band_hash
      FROM sig CROSS JOIN cfg, generate_series(0, 31) t(b)
      WHERE b < bands
    ),
    cand AS (
      SELECT DISTINCT a.bands, a.doc AS doc_a, b.doc AS doc_b
      FROM banded a JOIN banded b
        ON a.bands = b.bands AND a.band_idx = b.band_idx
       AND a.band_hash = b.band_hash AND a.doc < b.doc
    ),
    kept AS (
      SELECT bands, doc_a, doc_b
      FROM cand
      JOIN sig sa ON sa.doc = doc_a
      JOIN sig sb ON sb.doc = doc_b
      WHERE list_sum(list_transform(generate_series(1, 16),
              i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16
            >= 0.5
    )
"""

_SWEEP_SQL = f"""
    WITH {_SWEEP_SIG_CTES},
    shc AS (
      SELECT doc, shingle
      FROM (SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
      WHERE df <= {_SWEEP_DF_CAP}
    ),
    sizes AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS sz FROM shc GROUP BY 1
    ),
    inter AS (
      SELECT x.doc AS doc_a, y.doc AS doc_b, CAST(count(*) AS BIGINT) AS i
      FROM shc x JOIN shc y ON y.shingle = x.shingle AND x.doc < y.doc
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes A ON A.doc = doc_a
      JOIN sizes B ON B.doc = doc_b
      WHERE 3 * i >= A.sz + B.sz
    ),
    truth_x AS (SELECT bands, doc_a, doc_b FROM truth CROSS JOIN cfg),
    joined AS (
      SELECT coalesce(k.bands, t.bands) AS bands,
             (k.doc_a IS NOT NULL) AS in_cand,
             (t.doc_a IS NOT NULL) AS in_truth
      FROM kept k FULL OUTER JOIN truth_x t
        ON t.bands = k.bands AND t.doc_a = k.doc_a AND t.doc_b = k.doc_b
    ),
    m AS (
      SELECT bands,
             CAST(count(*) FILTER (WHERE in_truth) AS BIGINT) AS n_truth,
             CAST(count(*) FILTER (WHERE in_cand) AS BIGINT) AS n_cand,
             CAST(count(*) FILTER (WHERE in_cand AND in_truth) AS BIGINT)
               AS n_tp
      FROM joined GROUP BY 1
    )
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(16 // bands AS BIGINT) AS rows_per_band,
           n_truth, n_cand, n_tp,
           CASE WHEN n_cand = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(round(n_tp * 1000000.0 / n_cand) AS BIGINT)
           END AS precision_micro,
           CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(round(n_tp * 1000000.0 / n_truth) AS BIGINT)
           END AS recall_micro
    FROM m
"""


@register(
    "eval_lsh_threshold_sweep",
    oracle=_SWEEP_SQL,
    tags=("dedup", "eval", "llm"),
)
def eval_lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH operating-curve audit: precision/recall of the md5
    MinHash+LSH deduper (operators/dedup.minhash_md5_candidate_pairs —
    the SAME builder dedup_minhash_md5 and eval_minhash_quality wrap)
    against exact integer-decided Jaccard truth (3*|A∩B| >= |A|+|B|,
    over informative df <= {_SWEEP_DF_CAP} shingles — see below),
    swept across band configurations {16x1, 8x2, 4x4} of the same 16
    signatures. More bands -> more candidate buckets -> higher recall,
    lower precision pre-verify: the published S-curve tradeoff
    P[candidate] = 1-(1-s^r)^b, here measured instead of assumed.

    Plan shape: ONE signature frame (localCheckpoint — the shingle
    explode and 16-way min aggregate run once, not three times) feeds
    all three band explodes; their union self-joins on (bands,
    band_idx, band_hash) in one shuffle. The exact-truth leg is the
    inverted-index self-join (repartitioned on the shingle against
    AQE's fan-out-blind coalescing, as eval_minhash_quality) under the
    stop-shingle df-cap — sizes AND intersections both use the capped
    shingle set, so the threshold decision is self-consistent
    (dedup_jaccard_capped semantics) and every bucket's pair fan-out is
    bounded at df²; the LSH candidate legs keep the FULL shingle set,
    as the production deduper does. The truth leg is computed once and
    replicated to the three configs by a broadcast of the 3-row config
    frame. All counts assemble from ONE full-outer join at (bands,
    pair) grain. At 100 TB: the df-cap is what keeps the truth leg
    corpus-linear (no bucket exceeds cap² pairs — r13 verdict ask #3);
    the candidate legs are the production deduper's own cost times the
    config count."""
    d = load_table(spark, sf_dir, "documents")
    sig = D.minhash_md5_signatures(
        d, "doc_id", "text", num_hashes=_SWEEP_HASHES, k=3
    ).localCheckpoint()
    # ONE self-join for all three configs — r16: over the FINEST config
    # only. Band NESTING makes the 16x1 candidate set a superset of the
    # 8x2 and 4x4 sets: an r-row band of a coarser config matching means
    # its sig slice is equal elementwise, so every 1-row sub-band
    # matches too (equal strings hash to the equal md5 the 16x1 join
    # keys on). The coarser configs' membership is therefore a PER-PAIR
    # PROJECTION over the joined signatures — band b of config (bands,
    # r = 16/bands) matches iff sig positions b*r+1..b*r+r are all
    # equal — instead of two more banded legs in the self-join input
    # (r14 had already fused 3 self-joins into 1 over a 3-config union;
    # this drops the union too: 28 -> 16 banded rows per doc, and the
    # candidate distinct runs at pair grain instead of (config, pair)
    # grain). Equal-value semantics are exact: the oracle keys coarse
    # bands on md5(slice-join) over fixed-width hex entries, and slice
    # equality <=> band-hash equality (the join is injective; an md5
    # collision between UNEQUAL slices is the same 2^-128 event every
    # md5-keyed query already rides — hash-verified against the oracle
    # at sf0.01/0.1).
    banded = D._md5_banded(sig, _SWEEP_HASHES, _SWEEP_BANDS[0])
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
        )
        .distinct()
    )
    sa = sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )

    def in_config(bands: int):
        rows = _SWEEP_HASHES // bands
        band_eq = [
            F.expr(
                " AND ".join(
                    f"sig_a[{b * rows + i}] = sig_b[{b * rows + i}]"
                    for i in range(rows)
                )
            )
            for b in range(bands)
        ]
        # membership in the finest config is true by construction
        return F.lit(True) if rows == 1 else reduce(operator.or_, band_eq)

    flags = F.array(
        *[
            F.struct(
                F.lit(bands).alias("bands"), in_config(bands).alias("inb")
            )
            for bands in _SWEEP_BANDS
        ]
    )
    kept = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(agree / F.lit(_SWEEP_HASHES) >= 0.5)
        .select("doc_a", "doc_b", F.explode(flags).alias("f"))
        .where(F.col("f.inb"))
        .select(
            F.col("f.bands").alias("bands"),
            "doc_a",
            "doc_b",
            F.lit(1).alias("in_cand"),
        )
    )
    fanout = spark.sparkContext.defaultParallelism
    sh = (
        widen_narrow_scan(d)
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(D.word_shingles("text", 3)).alias("shingle"),
        )
        .repartition(fanout, "shingle")
    )
    # Stop-shingle df-cap (module constant): the count window reuses the
    # shingle repartition above, and the capped frame feeds BOTH sizes
    # and the self-join, so truth similarity is self-consistently over
    # informative shingles (dedup_jaccard_capped semantics).
    dfw = Window.partitionBy("shingle")
    shc = (
        sh.withColumn("_df", F.count("*").over(dfw))
        .filter(F.col("_df") <= _SWEEP_DF_CAP)
        .drop("_df")
    )
    sizes = shc.groupBy("doc").agg(F.count("*").cast("bigint").alias("sz"))
    x = shc.alias("x")
    y = shc.alias("y")
    inter = (
        x.join(
            y,
            (F.col("y.shingle") == F.col("x.shingle"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .groupBy(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .agg(F.count("*").cast("bigint").alias("i"))
    )
    truth = (
        inter.join(
            sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sza"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "szb"),
            "doc_b",
        )
        .filter(3 * F.col("i") >= F.col("sza") + F.col("szb"))
        .select("doc_a", "doc_b")
    )
    cfg = spark.range(0, len(_SWEEP_BANDS)).select(
        F.element_at(
            F.array(*[F.lit(b) for b in _SWEEP_BANDS]), (F.col("id") + 1).cast("int")
        ).alias("bands")
    )
    truth_x = truth.crossJoin(F.broadcast(cfg)).select(
        "bands", "doc_a", "doc_b", F.lit(1).alias("in_truth")
    )
    m = kept.join(truth_x, ["bands", "doc_a", "doc_b"], "full_outer").groupBy(
        "bands"
    ).agg(
        F.count("in_truth").cast("bigint").alias("n_truth"),
        F.count("in_cand").cast("bigint").alias("n_cand"),
        F.count(
            F.when(F.col("in_cand").isNotNull() & F.col("in_truth").isNotNull(), 1)
        )
        .cast("bigint")
        .alias("n_tp"),
    )
    rate = lambda num, den: F.when(  # noqa: E731
        F.col(den) == 0, F.lit(0).cast("bigint")
    ).otherwise(F.round(F.col(num) * 1000000.0 / F.col(den)).cast("bigint"))
    return m.select(
        F.col("bands").cast("bigint").alias("bands"),
        (F.lit(_SWEEP_HASHES) / F.col("bands")).cast("bigint").alias("rows_per_band"),
        "n_truth",
        "n_cand",
        "n_tp",
        rate("n_tp", "n_cand").alias("precision_micro"),
        rate("n_tp", "n_truth").alias("recall_micro"),
    )


# --------------------------------------------------------------------------
# text_bpe_encode
# --------------------------------------------------------------------------


def bpe_learn_sql_prefix() -> str:
    """The learning CTE chain (wf, v0, p1..t1..v1 .. t{rounds}) shared by
    every tokenizer-apply oracle — mirrors wave8e.learned_merge_tops."""
    from etl_caic_spark.plans.wave8e import _BPE_PAIR_CTE, _BPE_ROUNDS, _BPE_VOCAB

    head = f"""
    WITH wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) > 0
      GROUP BY 1
    ),
    v0 AS (
      SELECT f, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym
      FROM wf ORDER BY f DESC, w ASC LIMIT {_BPE_VOCAB}
    )"""
    return head + "".join(
        "," + _BPE_PAIR_CTE.format(i=i, prev=i - 1)
        for i in range(1, _BPE_ROUNDS + 1)
    )


def bpe_replace_sql(col: str = "sym") -> tuple[str, str]:
    """(replace_expr, cross_joins): the rank-ordered double-replace chain
    over `col` plus the CROSS JOIN t1..tN clause it needs."""
    from etl_caic_spark.plans.wave8e import _BPE_ROUNDS

    reps = col
    for i in range(1, _BPE_ROUNDS + 1):
        pat = f"' ' || t{i}.l || ' ' || t{i}.r || ' '"
        rep = f"' ' || t{i}.l || t{i}.r || ' '"
        reps = f"replace(replace({reps}, {pat}, {rep}), {pat}, {rep})"
    crosses = " ".join(f"CROSS JOIN t{i}" for i in range(1, _BPE_ROUNDS + 1))
    return reps, crosses


def _bpe_encode_oracle() -> str:
    head_ctes = bpe_learn_sql_prefix()
    reps, crosses = bpe_replace_sql("sym")
    body = f""",
    dw AS (
      SELECT lang, source, w
      FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE len(w) > 0
    ),
    enc AS (
      SELECT lang, source, len(w) AS syms_before,
             len(string_split(trim({reps}), ' ')) AS toks_after
      FROM (SELECT lang, source, w,
                   ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym
            FROM dw) {crosses}
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(syms_before) AS BIGINT) AS syms_before,
           CAST(sum(toks_after) AS BIGINT) AS tokens_after,
           CAST(sum(syms_before) - sum(toks_after) AS BIGINT) AS n_merged
    FROM enc GROUP BY 1, 2
    """
    return head_ctes + body


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("llm", "text", "iterative"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-apply: encode EVERY corpus word (in-vocabulary or not)
    with the {wave8e._BPE_ROUNDS} merges bpe_learn_merges learns —
    closing the learn->apply loop. Each word is spaced to characters
    and the learned merges are applied in rank order via the same
    frozen double-replace both engines replay identically (wave8e
    module docstring); per (lang, source) slice the output reports the
    symbol count before, the token count after, and the number of
    merge applications — the compression the learned merges buy.

    Plan shape: merge learning is the SHARED vocabulary-sized sub-plan
    (wave8e.learned_merge_tops: one corpus word-count scan, then
    200-row frames); encoding is a second corpus scan whose word
    explode -> 3 broadcast 1-row joins -> string replaces all stay in
    whole-stage codegen, collapsed by one map-side-combined aggregate
    at slice grain. At 100 TB both scans are embarrassingly parallel;
    a real tokenizer with thousands of merges swaps the replace chain
    for a trie pass inside mapInPandas — the learn/apply split and the
    slice-grain audit stay identical."""
    from etl_caic_spark.plans import wave8e

    tops = wave8e.learned_merge_tops(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    dw = (
        widen_narrow_scan(d)
        .select("lang", "source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
    )
    enc = dw.select(
        "lang",
        "source",
        F.length("w").alias("syms_before"),
        F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("sym"),
    )
    aliases = []
    for i, top in enumerate(tops, start=1):
        a = f"t{i}"
        enc = enc.crossJoin(F.broadcast(top.alias(a)))
        aliases.append(a)
    enc = enc.select(
        "lang",
        "source",
        "syms_before",
        F.size(F.split(F.trim(wave8e.apply_merges(F.col("sym"), aliases)), " "))
        .alias("toks_after"),
    )
    return enc.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("syms_before").cast("bigint").alias("syms_before"),
        F.sum("toks_after").cast("bigint").alias("tokens_after"),
        (F.sum("syms_before") - F.sum("toks_after"))
        .cast("bigint")
        .alias("n_merged"),
    )


# --------------------------------------------------------------------------
# eval_quantized_recall
# --------------------------------------------------------------------------

_QR_K = 10
_QR_MOD = 25
_QR_CAP = 500  # absolute query-set bound: the audit cost must NOT scale with corpus

_QR_SQL = f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    u AS (
      SELECT vec_id, list_transform(e, x -> x / nrm) AS ue, nrm FROM n
      WHERE nrm > 0
    ),
    qz AS (
      SELECT vec_id, ue,
             list_transform(ue, x -> CAST(round(
               x * 127.0 / list_max(list_transform(ue, y -> abs(y)))
             ) AS BIGINT)) AS qv
      FROM u
    ),
    q AS (SELECT * FROM qz
          WHERE vec_id % {_QR_MOD} = 0 AND vec_id < {_QR_CAP}),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_inner_product(q.ue, c.ue), 6) DESC,
                        c.vec_id) AS rnk
      FROM q JOIN qz c ON c.vec_id <> q.vec_id
      QUALIFY rnk <= {_QR_K}
    ),
    approx AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_sum(list_transform(
                          generate_series(1, len(q.qv)),
                          i -> q.qv[i] * c.qv[i])) DESC,
                        c.vec_id) AS rnk
      FROM q JOIN qz c ON c.vec_id <> q.vec_id
      QUALIFY rnk <= {_QR_K}
    )
    SELECT e.query_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_common,
           CAST(count(a.vec_id) * 1000000 // {_QR_K} AS BIGINT)
             AS recall_micro
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY 1
"""


@register(
    "eval_quantized_recall",
    oracle=_QR_SQL,
    tags=("similarity", "eval", "llm"),
)
def eval_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_QR_K} of int8-quantized integer dot-product search
    against the exact cosine baseline, per query (vec_id %
    {_QR_MOD} == 0, capped at vec_id < {_QR_CAP} so the audit's query
    set is a FIXED sample whose cost does not scale with the corpus): vectors are unit-normalized then symmetrically
    quantized (round(x * 127 / maxabs), the embed_quantize
    construction), and the approximate shortlist ranks by the PURE
    INTEGER dot product — exactly what a SIMD int8 index computes —
    while the baseline ranks by round(cosine, 6). The overlap of the
    two top-{_QR_K} lists is the recall the 4x memory saving costs.
    Both rankings tie-break on vec_id; the integer leg has no float
    at all, so the comparison is bit-portable across engines.

    Plan shape (probed 1x/10x/30x/100x; checkpoint dropped r14): the
    normalize+quantize frame feeds the broadcast query slice and the
    scoring side as two sibling subtrees — the query slice's vec_id
    filter pushes BELOW the interpreted lambdas to the scan, so the
    capped side only computes lambdas on its bounded rows and the
    corpus-wide pass runs ONCE (the r13 checkpoint assumed both sides
    were corpus-wide; with the absolute cap they are not, and the
    blocking barrier cost more than it saved — A/B at sf0.1: 0.86 vs
    1.16 s warm min, 1.01 vs 5.14 s first-run under steal).
    Scoring is one broadcast
    nested-loop pass producing BOTH scores per pair; both top-k ranks
    come from ONE window exchange (same query_id partitioning — Spark
    plans one shuffle, two sorts), and recall falls out of a filter +
    aggregate with NO join of the two top-k lists. At 100 TB the exact
    leg is the audit's cost (run on a bounded query sample — the
    _QR_CAP bound is what keeps this linear in the corpus); the int8
    leg is the production path (IVF-prunable, 4x less memory
    bandwidth)."""
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
    u = dbl.select("vec_id", nrm.alias("nrm"), "e").filter(
        F.col("nrm") > 0
    ).select(
        "vec_id",
        F.transform("e", lambda x: x / F.col("nrm")).alias("ue"),
    )
    maxabs = F.array_max(F.transform("ue", lambda y: F.abs(y)))
    qz = u.select(
        "vec_id",
        "ue",
        F.transform(
            "ue", lambda x: F.round(x * 127.0 / maxabs).cast("bigint")
        ).alias("qv"),
    )  # no barrier: the capped query side's filter pushes below the lambdas
    q = qz.filter(
        (F.col("vec_id") % _QR_MOD == 0) & (F.col("vec_id") < _QR_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("ue").alias("q_ue"),
        F.col("qv").alias("q_qv"),
    )
    pairs = qz.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    idot = F.aggregate(
        F.zip_with("qv", "q_qv", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(dot("ue", "q_ue"), 6).alias("cosine"),
        idot.alias("int_dot"),
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("int_dot").desc(), F.col("vec_id")
    )
    # one exchange, two sorts: both windows share the query_id
    # partitioning, so the pair scores shuffle exactly once
    both = scored.select(
        "query_id",
        F.row_number().over(we).alias("rnk_e"),
        F.row_number().over(wa).alias("rnk_a"),
    )
    return (
        both.filter(F.col("rnk_e") <= _QR_K)
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("rnk_a") <= _QR_K, 1).otherwise(0))
            .cast("bigint")
            .alias("n_common"),
            F.expr(
                f"sum(CASE WHEN rnk_a <= {_QR_K} THEN 1 ELSE 0 END)"
                f" * 1000000 div {_QR_K}"
            )
            .cast("bigint")
            .alias("recall_micro"),
        )
    )
