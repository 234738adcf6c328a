"""Round-9 wave L (file wave13a): PII scrubbing and cross-document
n-gram novelty — two curation steps the LLM-data surface still lacked.

- ``data_pii_scrub``: content redaction (the priv_* family had
  pseudonymization of KEYS but nothing touched the TEXT). Deterministic
  email / phone tokens are injected into a slice of the corpus, then
  scrubbed by regexp_replace with placeholder tags, with per-document
  redaction counts carried as provenance. The patterns use only
  character classes, quantifiers and word boundaries — the syntax
  subset Java regex (Spark) and RE2 (DuckDB) interpret identically, so
  the scrub is hash-verified cross-engine end-to-end (output text md5,
  not just counts).
- ``text_ngram_novelty``: the memorization/novelty audit — per
  document, the share of its distinct 5-gram shingles that occur in NO
  other document. Low novelty flags boilerplate/duplication that
  slipped past dedup; high novelty marks content worth keeping. One
  shingle explode -> document-frequency groupBy -> join back — the
  inverted-index shape shared with dedup_containment, linear in token
  count, no windows.

Reference parity: the reference (task.ts:88-189) has no text-curation
surface — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table

# --------------------------------------------------------------------------
# data_pii_scrub
# --------------------------------------------------------------------------

# Java-regex / RE2 common subset ONLY (char classes, +/{n}, \b):
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+[.][a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

_PII_SQL = f"""
    WITH seeded AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 5 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com now'
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' call 555-01' || lpad(CAST(doc_id % 10 AS VARCHAR),
                                                1, '0')
                          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                         4, '0')
                     ELSE '' END AS text
      FROM documents
    ),
    scrubbed AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS clean,
             CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
             CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT)
               AS n_phones
      FROM seeded
    )
    SELECT doc_id, n_emails, n_phones, md5(clean) AS clean_md5
    FROM scrubbed
"""


@register("data_pii_scrub", oracle=_PII_SQL, tags=("llm", "quality", "privacy", "text"))
def data_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails and phone numbers from the corpus (deterministically
    seeded so the fixture exercises both pattern classes), emitting
    per-document redaction counts and the md5 of the cleaned text — the
    hash proves the two engines' regex machinery rewrote every byte
    identically, not merely counted the same.

    Plan shape: pure per-row projection (regexp_replace / count) — one
    scan, whole-stage codegen, no shuffle at all; at 100 TB this is the
    cheapest possible pass, which is exactly why scrubbing runs early
    in a curation pipeline."""
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call 555-01"),
                    F.lpad((F.col("doc_id") % 10).cast("string"), 1, "0"),
                    F.lit("-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return seeded.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_RE}', 0)"))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text, '{_PHONE_RE}', 0)"))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE,
                "<PHONE>",
            )
        ).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# text_ngram_novelty
# --------------------------------------------------------------------------

_NOVELTY_N = 5

_NOVELTY_SQL = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(words) - {_NOVELTY_N}, 0)),
               i -> array_to_string(list_slice(words, i + 1,
                                               i + {_NOVELTY_N}), ' ')
             ))) AS g
      FROM w
    ),
    df AS (
      SELECT g, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(round(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
                      * 1000000.0 / count(*)) AS BIGINT) AS novelty_micro
    FROM sh JOIN df ON df.g = sh.g
    GROUP BY sh.doc_id
"""


@register("text_ngram_novelty", oracle=_NOVELTY_SQL, tags=("llm", "text", "quality", "dedup"))
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 5-gram novelty: the share of a document's DISTINCT
    word shingles that appear in no other document (df = 1 over the
    distinct-per-doc shingle stream). The memorization/boilerplate
    audit: near-zero novelty means the document is assembled from text
    that exists elsewhere in the corpus even if no single pair crossed
    the dedup threshold.

    Plan shape: shingle explode (distinct per doc) -> df groupBy
    (map-side combinable) -> hash join back on the shingle -> per-doc
    reduce. Linear in token count, shuffles keyed by shingle/doc only —
    the dedup_containment inverted-index shape; at 100 TB the join-back
    key becomes md5(shingle) to shrink the shuffle, same plan."""
    from etl_caic_spark.operators.dedup import word_shingles
    from etl_caic_spark.util import widen_narrow_scan

    d = load_table(spark, sf_dir, "documents")
    sh = widen_narrow_scan(d).select(
        "doc_id",
        F.explode(word_shingles("text", _NOVELTY_N)).alias("g"),
    )
    df = sh.groupBy("g").agg(F.count("*").cast("bigint").alias("df"))
    return (
        sh.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                * 1000000.0
                / F.count("*")
            )
            .cast("bigint")
            .alias("novelty_micro"),
        )
    )
