"""The LLM-side flagship: corpus_curation_pipeline — the full
training-corpus curation dataflow composed end-to-end from the engine's
operators, and STILL fully oracled (every stage is SQL-expressible, so
the whole composition hash-matches):

    raw corpus (with injected exact duplicates)
      → exact content-hash dedup              (operators/dedup.exact_dedup)
      → near-dup group collapse               (ngram Jaccard >= 0.5,
        stop-shingle df-cap 20, connected     (operators/dedup +
        components, keep min-id rep)           operators/concomp)
      → quality gate  (score >= 0.65)         (text_analysis.quality_features)
      → repetition gate (top-word <= 0.12)    (text_analysis.repetition_signals)

This is the complement of caic_pipeline (the reference-faithful flagship):
one query exercising dedup, graph, and quality operators as a single plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caic_spark.operators import dedup as D
from etl_caic_spark.operators.concomp import dedup_groups
from etl_caic_spark.operators.text_analysis import quality_features
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table

_QUALITY_MIN = 0.65
_TOP_WORD_MAX = 0.12


@register(
    "corpus_curation_pipeline",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text, lang, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, lang, source
      FROM documents WHERE doc_id % 10 = 0
    ),
    kept1 AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
    c1 AS (SELECT c.* FROM corpus c JOIN kept1 USING (doc_id)),
    sh0 AS (
      SELECT doc_id, lang, source, shingle
      FROM (
        SELECT doc_id, lang, source,
               unnest([array_to_string(words[i:i+2], ' ')
                       for i in generate_series(1, greatest(len(words)-2, 1))])
                 AS shingle
        FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS words
              FROM c1)
      )
      GROUP BY ALL
    ),
    sh AS (
      SELECT doc_id, lang, source, shingle
      FROM (SELECT *, count(*) OVER (PARTITION BY lang, source, shingle)
                      AS df
            FROM sh0)
      WHERE df <= 20
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang
                AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common / (sa.n + sb.n - common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    rec AS (
      WITH RECURSIVE reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
      ) SELECT * FROM reach
    ),
    c2 AS (
      SELECT c1.* FROM c1 LEFT JOIN rec r ON r.s = c1.doc_id
      GROUP BY ALL
      HAVING coalesce(least(min(r.d), c1.doc_id), c1.doc_id) = c1.doc_id
    ),
    scored AS (
      SELECT doc_id, lang, source,
             round(least(len(string_split(text, ' ')) / 60.0, 1.0) * 0.4
               + (len(list_distinct(string_split(text, ' '))) * 1.0
                  / len(string_split(text, ' '))) * 0.4
               + (1 - len(list_filter(string_split(text, ' '),
                    w -> list_contains(['a','the','of','to','and','row','key'], w)))
                    * 1.0 / len(string_split(text, ' '))) * 0.2, 6)
               AS quality_score
      FROM c2
    ),
    rep AS (
      SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_word_frac
      FROM (
        SELECT doc_id, word, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM c2)
        GROUP BY 1, 2
      )
      GROUP BY 1
    )
    SELECT s.doc_id, s.lang, s.source, s.quality_score, r.top_word_frac
    FROM scored s JOIN rep r USING (doc_id)
    WHERE s.quality_score >= 0.65 AND r.top_word_frac <= 0.12
    """,
    tags=("pipeline", "llm", "dedup", "flagship"),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: exact dedup → near-dup connected-
    component collapse (keep min-id representative) → quality gate →
    repetition gate. See module docstring.

    r14 fusion (r13 verdict ask #4): the repetition gate no longer
    calls the standalone repetition_signals operator (explode →
    (doc, word) shuffle → doc-grain max → join back onto the quality
    frame — two exchanges plus a join). top_word_frac has a per-row
    equivalent: the longest equal-run in the SORTED word array is
    exactly max(word count), so one array_sort + aggregate fold
    computes the same round(max(c)/sum(c), 6) with ZERO shuffles and
    no join — stages 3+4 are now a single projection fused into the
    representative scan. The standalone repetition_signals query is
    unchanged; the oracle here is unchanged (values are identical,
    hash-verified). At 100 TB this trades a corpus-wide (doc, word)
    exchange for an in-place per-doc sort — strictly fewer barriers
    on the flagship path."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source"
    )
    corpus = d.unionByName(dups)
    # Stage 1: exact content-hash dedup (keep min id per hash).
    kept1 = D.exact_dedup(corpus, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    c1 = corpus.join(kept1, "doc_id").localCheckpoint()
    # Stage 2: near-dup collapse — capped Jaccard pairs → connected
    # components → representatives only.
    pairs = D.ngram_jaccard_pairs(
        c1, "doc_id", "text", ["lang", "source"], k=3, threshold=0.5,
        max_shingle_df=20,
    )
    groups = dedup_groups(c1.select("doc_id"), pairs, "doc_id")
    c2 = c1.join(
        groups.filter(F.col("is_representative")).select("doc_id"), "doc_id"
    )
    # Stages 3+4: quality + repetition gates, fused into one per-row
    # projection (docstring): top word count == longest equal-run in the
    # sorted word array.
    words = F.split(F.col("text"), " ")
    run = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("mx"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(acc["prev"].isNull() | (acc["prev"] != w), F.lit(1))
            .otherwise(acc["run"] + 1)
            .alias("run"),
            F.greatest(
                acc["mx"],
                F.when(acc["prev"].isNull() | (acc["prev"] != w), F.lit(1))
                .otherwise(acc["run"] + 1),
            ).alias("mx"),
        ),
    )
    gated = c2.select(
        "doc_id",
        "lang",
        "source",
        quality_features(F.col("text"))["quality_score"].alias("quality_score"),
        F.round(run["mx"] / F.size(words), 6).alias("top_word_frac"),
    )
    return gated.filter(
        (F.col("quality_score") >= _QUALITY_MIN)
        & (F.col("top_word_frac") <= _TOP_WORD_MAX)
    ).select("doc_id", "lang", "source", "quality_score", "top_word_frac")
