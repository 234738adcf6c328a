"""LLM-data-pipeline queries, part 5 (round 5, cont.): C4-style
normalize-then-hash dedup over a deterministically "dirtied" corpus,
corpus-wide boilerplate n-gram detection (the Gopher/RefinedWeb repeated-
template filter), and a KMV (k-minimum-values) distinct-count sketch
whose md5 hashing makes the whole sketch — not just its error bound —
reproducible by the DuckDB oracle.

Reference scope note: the reference engine (task.ts:97-100) stops at
build-side exact dedup; these are the corpus-curation extensions the
brief adds on top, kept to the same oracle discipline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.operators.dedup import word_shingles
from etl_caic_spark.util import widen_narrow_scan
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table

# Deterministic "dirt": the fixture corpus is already clean (lowercase,
# no punctuation), so the normalization query first perturbs it the same
# way on both engines — uppercase every doc_id % 3 == 0, append ' !!' to
# every doc_id % 5 == 0 — then proves normalization collapses the
# perturbations back onto the clean text's hash groups.
_DIRTY_SQL = """
      SELECT doc_id, lang, source,
             CASE WHEN doc_id % 5 = 0
                  THEN (CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END)
                       || ' !!'
                  ELSE (CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END)
             END AS text
      FROM documents
"""


@register(
    "dedup_normalized_exact",
    oracle=f"""
    WITH dirty AS ({_DIRTY_SQL}),
    n AS (
      SELECT doc_id, lang, source,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                                                    '[^a-z0-9 ]', '', 'g'),
                                     '  +', ' ', 'g'))) AS h
      FROM dirty
    ),
    g AS (
      SELECT doc_id, lang, source,
             min(doc_id) OVER (PARTITION BY h) AS keeper,
             count(*) OVER (PARTITION BY h) AS n_dups
      FROM n
    )
    SELECT doc_id, lang, source, CAST(n_dups AS BIGINT) AS n_dups
    FROM g WHERE doc_id = keeper
    """,
    tags=("dedup", "llm"),
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style normalized exact dedup: lowercase, strip non-alnum,
    collapse whitespace, md5, keep the smallest doc_id per normalized
    hash. Run over a deterministically dirtied corpus (case flips +
    trailing punctuation) so the query PROVES normalization merges
    variants that raw hashing (dedup_exact) would keep apart. Same scale
    shape as exact dedup — one hash-partitioned window/aggregate on the
    content hash, the cheapest dedup tier and the first pass of any
    100 TB curation pipeline; normalization is pure JVM string ops on
    the scan."""
    d = load_table(spark, sf_dir, "documents")
    cased = F.when(
        F.col("doc_id") % 3 == 0, F.upper(F.col("text"))
    ).otherwise(F.col("text"))
    dirty = d.select(
        "doc_id",
        "lang",
        "source",
        F.when(F.col("doc_id") % 5 == 0, F.concat(cased, F.lit(" !!")))
        .otherwise(cased)
        .alias("text"),
    )
    h = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                "  +",
                " ",
            )
        )
    )
    w = Window.partitionBy("h")
    g = dirty.select("doc_id", "lang", "source", h.alias("h")).select(
        "doc_id",
        "lang",
        "source",
        F.min("doc_id").over(w).alias("keeper"),
        F.count("*").over(w).alias("n_dups"),
    )
    return g.filter(F.col("doc_id") == F.col("keeper")).select(
        "doc_id", "lang", "source", "n_dups"
    )


@register(
    "text_boilerplate_ngrams",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+2], ' ')
                       for i in generate_series(1, greatest(len(words)-2, 1))])
                 AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      )
    ),
    df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    per AS (
      SELECT sh.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler
      FROM sh JOIN df USING (shingle)
      GROUP BY 1
    )
    SELECT doc_id, n_shingles, n_boiler,
           round(n_boiler / n_shingles, 4) AS boiler_ratio
    FROM per
    WHERE n_boiler / n_shingles >= 0.5
    """,
    tags=("text", "llm", "quality"),
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detection (the Gopher/RefinedWeb repeated-
    template filter): a word-3-gram is boilerplate when it appears in ≥3
    distinct documents; flag documents whose distinct-shingle boilerplate
    ratio is ≥ 0.5. Two shuffles — document-frequency groupBy on the
    shingle, then the per-doc rollup — with the shingle explode kept
    JVM-side (split → transform(sequence) → array_distinct, zero Python).
    At 100 TB the df table is Zipf-skewed but TINY relative to the corpus
    (distinct shingles, already aggregated), and the df≥3 filter makes
    the re-join selective; this is the same inverted-index discipline as
    dedup_ngram_jaccard without the quadratic self-join."""
    d = load_table(spark, sf_dir, "documents")
    sh = (
        widen_narrow_scan(d)
        .select(
            "doc_id",
            F.explode(word_shingles("text", 3)).alias("shingle"),
        )
        .distinct()
    )
    df_tab = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    per = (
        sh.join(df_tab, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 3, 1).otherwise(0)).alias("n_boiler"),
        )
    )
    return per.filter(F.col("n_boiler") / F.col("n_shingles") >= 0.5).select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        F.round(F.col("n_boiler") / F.col("n_shingles"), 4).alias("boiler_ratio"),
    )


@register(
    "sketch_kmv_distinct",
    oracle="""
    WITH h AS (
      SELECT DISTINCT l_returnflag AS flag,
                      md5(CAST(l_partkey AS VARCHAR)) AS hx
      FROM lineitem
    ),
    iv AS (
      SELECT flag,
             list_sum(list_transform(generate_series(1, 15), i ->
               CAST(strpos('0123456789abcdef', hx[i]) - 1 AS BIGINT)
               * (CAST(1 AS BIGINT) << (4 * (15 - i))))) AS v
      FROM h
    ),
    r AS (
      SELECT flag, v,
             row_number() OVER (PARTITION BY flag ORDER BY v) AS rn
      FROM iv
    ),
    x AS (
      SELECT l_returnflag AS flag,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
      FROM lineitem GROUP BY 1
    )
    SELECT r.flag AS l_returnflag,
           round(63.0 * 1152921504606846976.0 / v, 2) AS kmv_estimate,
           exact_distinct
    FROM r JOIN x ON r.flag = x.flag
    WHERE rn = 64
    """,
    tags=("sketch", "agg"),
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=64, per return
    flag: hash every key with md5 (engine-portable, unlike HLL's
    xxhash), keep each group's 64 smallest 60-bit hash values, estimate
    |D| ≈ (k−1)/F(k) where F(k) is the kth minimum as a fraction of hash
    space (2^60 here). Because the hash is portable the ENTIRE sketch is
    deterministic and the estimate hash-matches the oracle — the
    verifiable twin of the rows-only agg_approx_distinct/agg_hll_sketch
    family. At 100 TB the k smallest per group reduce map-side (each
    partition keeps ≤k, merge keeps ≤k — the classic mergeable-sketch
    property; the row_number form here is the small-sf correctness
    anchor), and k=64 gives ~1/√62 ≈ 13% relative error."""
    li = load_table(spark, sf_dir, "lineitem")
    h = li.select(
        F.col("l_returnflag").alias("flag"),
        F.md5(F.col("l_partkey").cast("string")).alias("hx"),
    ).distinct()
    iv = h.select(
        "flag",
        F.conv(F.substring("hx", 1, 15), 16, 10).cast("bigint").alias("v"),
    )
    w = Window.partitionBy("flag").orderBy("v")
    r = iv.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 64)
    x = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count_distinct("l_partkey").alias("exact_distinct")
    )
    return r.join(x, "flag").select(
        F.col("flag").alias("l_returnflag"),
        F.round(F.lit(63.0) * F.lit(1152921504606846976.0) / F.col("v"), 2).alias(
            "kmv_estimate"
        ),
        "exact_distinct",
    )
