"""Text-analysis operators for training-data pipelines (BASELINE.json
north star): token counting, quality scoring, language-ID heuristic, and
winnowing document fingerprints.

All pure JVM-side expressions (split / transform / aggregate / filter
higher-order functions) — no Python UDFs, so they run inside whole-stage
codegen and scale linearly with the corpus."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Marker-word lists for the language-ID heuristic. The synthetic corpus is
# word soup, so the *predictions* are arbitrary — what matters (and what the
# oracle pins) is that the scoring + argmax is deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "die", "und", "ist"],
    "es": ["el", "la", "que", "de"],
    "fr": ["le", "la", "et", "est"],
    "zh": ["de", "shi", "le", "he"],
}
LANG_ORDER = ["de", "en", "es", "fr", "zh"]  # deterministic tie-break order

# BPE-ish token pattern: letter runs, digit runs, single other non-space.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = ["a", "the", "of", "to", "and", "row", "key"]


def token_counts(text: Column) -> dict[str, Column]:
    """Whitespace token count + BPE-ish regex token count."""
    return {
        "n_ws_tokens": F.size(F.split(text, " ")),
        "n_bpe_tokens": F.regexp_count(text, F.lit(TOKEN_PATTERN)).cast("int"),
    }


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality features: token count, mean token length,
    distinct-token ratio, stopword ratio, and a composite score."""
    words = F.split(text, " ")
    n = F.size(words)
    total_len = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    n_uniq = F.size(F.array_distinct(words))
    avg_len = total_len / n
    uniq_ratio = n_uniq / n
    stop_ratio = n_stop / n
    score = (
        F.least(n / F.lit(60.0), F.lit(1.0)) * 0.4
        + uniq_ratio * 0.4
        + (1 - stop_ratio) * 0.2
    )
    return {
        "n_tokens": n,
        "avg_token_len": F.round(avg_len, 6),
        "uniq_ratio": F.round(uniq_ratio, 6),
        "stop_ratio": F.round(stop_ratio, 6),
        "quality_score": F.round(score, 6),
    }


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-word occurrence count per language (n-gram-heuristic style)."""
    words = F.split(text, " ")
    return {
        lang: F.size(F.filter(words, lambda w: w.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predict_lang(text: Column) -> Column:
    """argmax over lang_scores with deterministic first-wins tie-breaking in
    LANG_ORDER."""
    scores = lang_scores(text)
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.lit(None).cast("string")
    # Build the CASE ladder in reverse so earlier languages win ties.
    for lang in reversed(LANG_ORDER):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return expr


def winnowing_fingerprint_col(df: DataFrame, text_col: str, out_col: str,
                              kgram: int = 5, window: int = 4) -> DataFrame:
    """Winnowing fingerprint set (Schleimer et al., SIGMOD'03 style):
    char k-grams → portable polynomial rolling hash → min per sliding
    window of `window` hashes → sorted distinct mins.

    The k-gram hash is the closed-form polynomial
    sum(ascii(c_j) * 31^(k-1-j)) mod 2^30 (== the iterated
    (h*31 + c) mod 2^30 fold, since every partial value fits a BIGINT) —
    implementable identically in DuckDB SQL, so the whole fingerprint is
    oracle-checkable.

    Each intermediate array is materialized as its own column: referencing
    a lambda-produced array from several later expressions would re-evaluate
    it per element (no CSE across higher-order-function boundaries — this
    was a 40s → <1s difference at sf0.1)."""
    pows = [31 ** (kgram - 1 - j) for j in range(kgram)]
    codes_df = df.withColumn(
        "_codes", F.transform(F.split(F.col(text_col), ""), lambda c: F.ascii(c).cast("bigint"))
    )
    n = F.size("_codes")
    hashed = codes_df.withColumn(
        "_hashes",
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (kgram - 1), F.lit(1))),
            lambda i: sum(
                (F.element_at("_codes", i + j) * F.lit(pows[j]) for j in range(1, kgram)),
                F.element_at("_codes", i) * F.lit(pows[0]),
            )
            % F.lit(2**30),
        ),
    )
    nh = F.size("_hashes")
    mins = hashed.withColumn(
        "_mins",
        F.transform(
            F.sequence(F.lit(1), F.greatest(nh - (window - 1), F.lit(1))),
            lambda i: F.array_min(F.slice("_hashes", i, window)),
        ),
    )
    return mins.withColumn(out_col, F.array_sort(F.array_distinct("_mins"))).drop(
        "_codes", "_hashes", "_mins"
    )


def text_stats(docs: DataFrame) -> DataFrame:
    """Corpus stats by (lang, source): doc counts, char sums, token stats."""
    toks = F.size(F.split(F.col("text"), " "))
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(toks), 4).alias("avg_tokens"),
        F.max(toks).cast("int").alias("max_tokens"),
    )


def tfidf(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int | None = None,
    max_df_ratio: tuple[int, int] | None = None,
) -> DataFrame:
    """(doc, term, tf, df, tfidf): raw term frequency per document, document
    frequency per term, tfidf = tf * ln(N/df) (natural log, rounded 6 —
    integer tf/df keep the doubles engine-reproducible).

    Scale: one explode + one (doc, term) aggregate, then df as a per-term
    GROUP BY joined back on term — not a term-partitioned window. The
    aggregate combines map-side, so a stop term's millions of rows shrink
    to one partial per task before the shuffle; a window would funnel them
    all into a single partition. `max_df` drops stop terms (df > cap) from
    the df table before the join — the standard vocabulary pruning, and it
    shrinks both join and output. N arrives via a broadcast scalar
    aggregate (no driver collect).

    `max_df_ratio=(num, den)` is the corpus-relative form (sklearn's
    max_df fraction): keep terms with df/N <= num/den, tested as
    df*den <= N*num — integer cross-multiplication, so both engines and
    every scale agree exactly (no float threshold)."""
    from etl_caic_spark.util import widen_narrow_scan

    words = widen_narrow_scan(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_df is not None:
        df_tbl = df_tbl.filter(F.col("df") <= max_df)
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    if max_df_ratio is not None:
        num, den = max_df_ratio
        df_tbl = (
            df_tbl.crossJoin(F.broadcast(n_docs))
            .filter(F.col("df") * den <= F.col("n_docs") * num)
            .select("term", "df")
        )
    return (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )


def chunk_documents(
    docs: DataFrame, id_col: str, text_col: str, window: int = 40, stride: int = 30
) -> DataFrame:
    """Overlapping fixed-size token chunks (the pre-tokenization split for
    long documents): chunk i covers tokens [1 + i*stride, ... + window).
    The words array is staged as a real column before the explode (HOF
    re-evaluation trap), and the chunk slice happens on the exploded start
    offset — no Column offsets inside lambdas."""
    from etl_caic_spark.util import widen_narrow_scan

    staged = widen_narrow_scan(docs).select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("_words")
    )
    # Bound n - window + stride guarantees the last chunk reaches token n
    # (a bound of n - window + 1 can strand up to stride-1 tail tokens);
    # the final chunk truncates to the remaining tokens.
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("_words") - window + stride, F.lit(1)),
        F.lit(stride),
    )
    exploded = staged.select(
        "doc_id", "_words", F.explode(starts).alias("start")
    ).withColumn("chunk", F.slice("_words", F.col("start"), window))
    return exploded.select(
        "doc_id",
        ((F.col("start") - 1) / stride).cast("int").alias("chunk_idx"),
        F.size("chunk").alias("chunk_tokens"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    )


def pack_sequences(
    docs: DataFrame, id_col: str, text_col: str, budget: int = 2048, shards: int = 8
) -> DataFrame:
    """Greedy contiguous sequence packing: documents are laid out in
    deterministic id order and cut into fixed token-budget bins (training
    batch packing). Packing is per shard (id mod shards) so the running
    sum is a partitioned window, not a single global one — the 100 TB
    version raises `shards` to the cluster's write parallelism."""
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(F.col(id_col), F.lit(shards)).cast("bigint").alias("shard"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before")
    return d.select("doc_id", "shard", "n_tokens", cum).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(F.col("cum_before") / budget).cast("bigint").alias("bin"),
        (F.col("cum_before") % budget).cast("bigint").alias("offset_in_bin"),
    )


def contamination_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str,
    k: int = 3,
    min_shared: int = 2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Benchmark-decontamination check: (test doc, train doc) pairs sharing
    at least `min_shared` distinct word k-gram shingles. One shingle
    inverted index, filtered per side — the same scale shape as
    ngram_jaccard_pairs.

    `max_shingle_df` is the same stop-shingle guard: a boilerplate shingle
    shared by millions of train docs makes the test×train join quadratic in
    its document frequency; dropping shingles with df > cap (counted across
    both splits, before the checkpoint so the materialized index is already
    capped) bounds any shingle's contribution at df² and redefines overlap
    over informative shingles only."""
    from etl_caic_spark.operators.dedup import word_shingles
    from etl_caic_spark.util import widen_narrow_scan

    shingled = widen_narrow_scan(docs).select(
        F.col(id_col).alias("doc"),
        F.col(split_col).alias("split"),
        F.explode(word_shingles(text_col, k)).alias("shingle"),
    )
    if max_shingle_df is not None:
        w = Window.partitionBy("shingle")
        shingled = (
            shingled.withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    shingled = shingled.localCheckpoint()
    test = shingled.filter(F.col("split") == "test").select(
        F.col("doc").alias("test_doc"), "shingle"
    )
    train = shingled.filter(F.col("split") == "train").select(
        F.col("doc").alias("train_doc"), "shingle"
    )
    return (
        test.join(train, "shingle")
        .groupBy("test_doc", "train_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    frac_decimals: int = 6,
    include_bigrams: bool = True,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    the fraction of the document taken up by its most frequent word and
    most frequent word-bigram, plus the distinct-word ratio. Heavily
    repetitious documents (boilerplate, templated spam, degenerate
    generations) score high and are filtered before pre-training.

    Shape: explode → per-(doc, gram) count with map-side combine → one
    max-aggregate per doc. Two shuffles keyed on (doc, gram) then doc;
    no all-pairs, no windows over the corpus — linear at 100 TB.

    Fractions are exact small-denominator rationals (q = n_words ≤ a few
    hundred), so per-row rounding is engine-stable (ties only at powers
    of two, which doubles represent exactly)."""
    from etl_caic_spark.util import widen_narrow_scan

    words = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"), F.split(text_col, " ").alias("words")
    )
    wc = (
        words.select("doc", F.explode("words").alias("w"))
        .groupBy("doc", "w")
        .agg(F.count("*").alias("c"))
    )
    per_doc = wc.groupBy("doc").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_word_n"),
    )
    word_cols = [
        F.col("doc").alias(id_col),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.round(F.col("n_distinct") / F.col("n_words"), frac_decimals).alias(
            "uniq_ratio"
        ),
        F.col("top_word_n").cast("bigint").alias("top_word_n"),
        F.round(F.col("top_word_n") / F.col("n_words"), frac_decimals).alias(
            "top_word_frac"
        ),
    ]
    if not include_bigrams:
        # Callers gating on word-level repetition only (e.g. the curation
        # pipeline) skip the bigram explode — it's the expensive half
        # (second gram-keyed shuffle over every adjacent pair).
        return per_doc.select(*word_cols)
    bigrams = words.filter(F.size("words") >= 2).select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("words") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("words", i), F.element_at("words", i + 1)
                ),
            )
        ).alias("g"),
    )
    bc = (
        bigrams.groupBy("doc", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc")
        .agg(F.max("c").alias("top_bigram_n"))
    )
    return (
        per_doc.join(bc, "doc", "left")
        .select(
            *word_cols,
            F.coalesce(F.col("top_bigram_n"), F.lit(0)).cast("bigint").alias(
                "top_bigram_n"
            ),
            F.round(
                F.coalesce(F.col("top_bigram_n"), F.lit(0))
                / F.greatest(F.col("n_words") - 1, F.lit(1)),
                frac_decimals,
            ).alias("top_bigram_frac"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram language-model score per document — the cheap perplexity
    proxy for corpus quality ranking (documents of improbable words score
    low; degenerate/boilerplate docs score predictably high).

    Two aggregations: corpus term frequencies (map-side combined, then a
    broadcast back to the term rows — the vocabulary is tiny relative to
    the corpus) and the per-document occurrence-weighted sum.

    Numeric determinism: each term's ln(cf/N) is rounded to 6 decimals
    and integerized to micro-nats; the per-document reduction is then an
    exact BIGINT sum (summation-order-free), divided back out once at the
    end — the same integer-stabilization used by rollup_timeseries."""
    from etl_caic_spark.util import widen_narrow_scan

    words = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"), F.explode(F.split(text_col, " ")).alias("w")
    )
    wc = words.groupBy("doc", "w").agg(F.count("*").alias("c"))
    cf = words.groupBy("w").agg(F.count("*").alias("cf"))
    n_total = cf.agg(F.sum("cf").alias("n")).select(F.col("n").cast("bigint"))
    lp = cf.crossJoin(F.broadcast(n_total)).select(
        "w",
        F.round(F.log(F.col("cf") / F.col("n")), 6).alias("lp"),
    ).select("w", F.round(F.col("lp") * 1e6, 0).cast("bigint").alias("lp_micro"))
    scored = (
        wc.join(F.broadcast(lp), "w")
        .groupBy("doc")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("lp_micro")).alias("sum_micro"),
        )
    )
    return scored.select(
        F.col("doc").alias(id_col),
        F.col("n_words").cast("bigint").alias("n_words"),
        (F.col("sum_micro") / 1e6).alias("logprob"),
        F.round(F.col("sum_micro") / 1e6 / F.col("n_words"), 6).alias(
            "avg_logprob"
        ),
    )
