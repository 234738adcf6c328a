"""Wave 18 (round 5): BPE pair statistics — the first step of tokenizer
TRAINING (not just tokenization) — and the JSONL corrupt-record reader
path, the JSON twin of scan_csv_malformed's quarantine contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.util import scratch_path


@register(
    "text_bpe_pair_counts",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    pairs AS (
      SELECT substr(w, i, 2) AS pair
      FROM words,
           LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) g
      WHERE length(w) >= 2
    ),
    counted AS (
      SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1
    )
    SELECT pair, n,
           CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rnk
    FROM counted
    QUALIFY rnk <= 30
    """,
    tags=("text", "llm", "agg"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair statistics — the inner loop of BPE tokenizer TRAINING:
    count every adjacent character pair inside each whitespace word
    across the corpus and rank the merge candidates (the top pair is
    what BPE's first merge would fuse). Pure higher-order expressions:
    words explode once, pairs come from a transform over in-word
    offsets (substr(w, i, 2)) with no Python anywhere, and the count is
    one map-side-combinable shuffle over a key space bounded by the
    alphabet² — tiny regardless of corpus size. The top-30 is
    TakeOrderedAndProject with a (count, pair) total order. At 100 TB
    this is exactly how you'd farm the pair-count step of each BPE
    iteration; the iteration loop itself re-runs this with the merged
    symbol table applied."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    wk = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        counted.withColumn("rnk", F.row_number().over(wk).cast("int"))
        .filter(F.col("rnk") <= 30)
    )


@register(
    "scan_jsonl_corrupt",
    oracle="""
    SELECT CASE WHEN c_custkey % 4 = 0 THEN 'quarantined' ELSE 'parsed' END
             AS klass,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN c_custkey % 4 <> 0
                         THEN CAST(round(c_acctbal * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS parsed_cents
    FROM customer
    WHERE c_custkey % 3 = 0
    GROUP BY 1
    """,
    tags=("scan", "formats"),
)
def scan_jsonl_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSONL ingestion with a corrupt-record column — the
    JSON twin of scan_csv_malformed's quarantine contract: every 4th
    record is truncated mid-object (an unterminated string — the classic
    partially-written log line), and the reader lands it as NULLs plus
    the verbatim line in columnNameOfCorruptRecord instead of failing
    the job; good rows parse normally. The report splits parsed vs
    quarantined and sums the parsed cents; the oracle derives the same
    classification from the corruption rule. Schema-with-corrupt-column
    is the production JSONL ingest shape — FAILFAST only for trusted
    upstreams, DROPMALFORMED never (silent loss). The scan is
    partition-parallel text; parsing is JVM-side Jackson, no Python."""
    import shutil

    from pyspark.sql import types as T

    out = scratch_path("etl_caic_jsonl_corrupt")
    shutil.rmtree(out, ignore_errors=True)
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    good = F.concat(
        F.lit('{"c_custkey": '),
        F.col("c_custkey").cast("string"),
        F.lit(', "cents": '),
        F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string"),
        F.lit(', "segment": "'),
        F.col("c_mktsegment"),
        F.lit('"}'),
    )
    bad = F.concat(
        F.lit('{"c_custkey": '),
        F.col("c_custkey").cast("string"),
        F.lit(', "segment": "trunc'),
    )
    c.select(
        F.when(F.col("c_custkey") % 4 == 0, bad).otherwise(good).alias("value")
    ).write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("segment", T.StringType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    read = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    return (
        read.select(
            F.when(F.col("_corrupt").isNotNull(), "quarantined")
            .otherwise("parsed")
            .alias("klass"),
            F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
        )
        .groupBy("klass")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("parsed_cents"),
        )
    )


@register(
    "scan_rest_paginated",
    oracle="""
    SELECT CAST(i AS BIGINT) AS item_id,
           CAST((i * 37) % 1000 AS BIGINT) AS val,
           'page-' || CAST(i // 25 AS VARCHAR) AS page
    FROM (SELECT unnest(generate_series(0, 119)) AS i)
    """,
    tags=("scan", "rest"),
)
def scan_rest_paginated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor-paginated REST ingestion replayed through the injectable
    transport (sources/rest.py fetch_json_paginated): a deterministic
    fake API serves 120 items in 25-item pages, each page carrying the
    next-page cursor; the loader follows cursors until null, concatenating
    pages into one DataFrame under the declared fail-fast schema. The
    oracle states the full collection closed-form — the hash match
    proves no page was dropped, duplicated, or reordered across the
    cursor chain (the classic pagination bugs). Same structural-replay
    convention as the R1/R4 snapshot source: no live calls, transport
    injected, driver-side serial fetch by design with the
    land-on-storage path documented for large collections."""
    import json as _json

    from pyspark.sql import types as T

    from etl_caic_spark.sources.rest import fetch_json_paginated

    page_size, total = 25, 120

    def fake_api(url: str) -> str:
        page = int(url.rsplit("=", 1)[1])
        lo = page * page_size
        hi = min(lo + page_size, total)
        items = [
            {"item_id": i, "val": (i * 37) % 1000, "page": f"page-{i // page_size}"}
            for i in range(lo, hi)
        ]
        nxt = f"fake://items?page={page + 1}" if hi < total else None
        return _json.dumps({"items": items, "next": nxt})

    schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("val", T.LongType()),
            T.StructField("page", T.StringType()),
        ]
    )
    return fetch_json_paginated(
        spark, "fake://items?page=0", schema, transport=fake_api
    )
