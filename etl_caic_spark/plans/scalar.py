"""Scalar / nested-function layer (SURVEY.md §2.C "Scalar functions",
milestone M2): every reference-derived scalar behavior from §2.A R9-R13,R16
— string, date, math, array, map-literal lookup, conditional, JSON decode,
positional explode, and the min-over-ordinal reduction.

All expressions are JVM-side built-ins (whole-stage codegen; no Python in
the hot path)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table

# ---------------------------------------------------------------------------
# String functions (reference R16: concat, startsWith, replace, …)
# ---------------------------------------------------------------------------


@register(
    "fn_string",
    oracle="""
    SELECT
      p_partkey,
      upper(p_name) AS name_upper,
      lower(p_brand) AS brand_lower,
      substring(p_type, 1, 7) AS type_prefix,
      split_part(p_name, ' ', 1) AS first_word,
      regexp_extract(p_name, '([a-z]+)$', 1) AS last_lower_run,
      replace(p_type, ' ', '_') AS type_snake,
      starts_with(p_type, 'PROMO') AS is_promo,
      CAST(length(p_name) AS INT) AS name_len,
      lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
      trim(p_brand || ' ') AS brand_trim,
      p_brand || '/' || p_type AS brand_type
    FROM part
    WHERE p_partkey % 3 = 0
    """,
    tags=("fn",),
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: concat/startswith/replace (reference task.ts:149,171,
    179) plus upper/lower/substring/split/regexp_extract/lpad/trim."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 3 == 0)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 7).alias("type_prefix"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_lower_run"),
        F.replace("p_type", F.lit(" "), F.lit("_")).alias("type_snake"),
        F.startswith("p_type", F.lit("PROMO")).alias("is_promo"),
        F.length("p_name").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.trim(F.concat(F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


@register(
    "fn_urlencode",
    oracle="""
    SELECT p_partkey,
           p_type || ' & ' || p_brand || ' #' || p_partkey || ' 100%' AS raw,
           list_aggregate(list_transform(
             string_split(p_type || ' & ' || p_brand || ' #' || p_partkey
                          || ' 100%', ''),
             ch -> CASE WHEN regexp_matches(ch, '^[A-Za-z0-9*\\-._]$') THEN ch
                        WHEN ch = ' ' THEN '+'
                        ELSE '%' || printf('%02X', ord(ch)) END),
             'string_agg', '') AS encoded
    FROM part WHERE p_partkey % 10 = 0
    """,
    tags=("fn",),
)
def fn_urlencode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-encode (reference R16 encodeURIComponent, task.ts:89,102) over a
    punctuation-rich constructed string. DuckDB 1.0 lacks url_encode, but
    application/x-www-form-urlencoded is per-character expressible (keep
    [A-Za-z0-9*-._], space→'+', else %XX) — verified char-for-char against
    Spark's url_encode; the pytest twin also checks urllib quoting."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    raw = F.concat(
        F.col("p_type"),
        F.lit(" & "),
        F.col("p_brand"),
        F.lit(" #"),
        F.col("p_partkey").cast("string"),
        F.lit(" 100%"),
    )
    return p.select(
        "p_partkey",
        raw.alias("raw"),
        F.url_encode(raw).alias("encoded"),
    )


# ---------------------------------------------------------------------------
# Date functions (reference R16: toISOString; engine adds the usual surface)
# ---------------------------------------------------------------------------


@register(
    "fn_date",
    oracle="""
    SELECT
      o_orderkey,
      CAST(year(o_orderdate) AS INT) AS yr,
      CAST(month(o_orderdate) AS INT) AS mo,
      CAST(day(o_orderdate) AS INT) AS dom,
      strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS iso,
      CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
        AS days_since_epoch_start,
      strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus_30d
    FROM orders
    WHERE o_orderkey % 5 = 0
    """,
    tags=("fn",),
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: extraction, truncation, ISO formatting (the
    reference carries ISO-8601 strings end-to-end, task.ts:71,88), diffs,
    arithmetic. Timestamps are emitted as formatted strings so the oracle
    comparison is representation-stable."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("iso"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch_start"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd")
        .alias("plus_30d"),
    )


# ---------------------------------------------------------------------------
# Math functions (reference R9 least-equivalent; engine adds the surface)
# ---------------------------------------------------------------------------


@register(
    "fn_math",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      round(l_extendedprice * l_discount, 2) AS discount_amt,
      abs(l_extendedprice - 30000.0) AS dist_from_30k,
      least(l_quantity, 25.0) AS qty_capped,
      greatest(l_discount, l_tax) AS max_rate,
      CAST(floor(l_quantity / 7) AS BIGINT) AS qty_div7,
      CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_kilo,
      CAST(l_orderkey % 97 AS BIGINT) AS key_mod,
      sqrt(l_quantity) AS qty_sqrt,
      round(ln(l_extendedprice), 6) AS price_ln
    FROM lineitem
    WHERE l_linenumber = 1 AND l_orderkey % 4 = 0
    """,
    tags=("fn",),
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface: round/abs/least/greatest (reference R9/R16), floor/ceil,
    modulo, sqrt (IEEE correctly-rounded → exact parity), ln rounded to 6
    (libm results may differ in the last ulp between JVM and DuckDB)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 4 == 0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("discount_amt"),
        F.abs(F.col("l_extendedprice") - 30000.0).alias("dist_from_30k"),
        F.least("l_quantity", F.lit(25.0)).alias("qty_capped"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.floor(F.col("l_quantity") / 7).alias("qty_div7"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_kilo"),
        (F.col("l_orderkey") % 97).alias("key_mod"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
    )


# ---------------------------------------------------------------------------
# Array functions (reference R12 element access, R13 explode)
# ---------------------------------------------------------------------------


@register(
    "fn_array",
    oracle="""
    SELECT
      vec_id,
      CAST(len(embedding) AS INT) AS dim,
      embedding[1] AS first_val,
      embedding[len(embedding)] AS last_val,
      embedding[2] AS h2,
      embedding[3] AS h3,
      embedding[4] AS h4,
      list_min(embedding) AS vmin,
      list_max(embedding) AS vmax
    FROM embeddings
    WHERE vec_id % 7 = 0
    """,
    tags=("fn",),
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface: size / element_at (reference days[0], task.ts:144-146,
    157) / min / max over the embedding column. The head-of-vector probe is
    emitted as scalar columns (h2..h4), not an array slice: the driver's
    canonicalizer sorts pandas cells, and list-typed cells are unhashable."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 7 == 0)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.element_at("embedding", F.size("embedding")).alias("last_val"),
        F.element_at("embedding", 2).alias("h2"),
        F.element_at("embedding", 3).alias("h3"),
        F.element_at("embedding", 4).alias("h4"),
        F.array_min("embedding").alias("vmin"),
        F.array_max("embedding").alias("vmax"),
    )


@register(
    "explode_pos",
    oracle="""
    SELECT doc_id,
           CAST(unnest(generate_series(0, len(string_split(text, ' ')) - 1))
                AS INTEGER) AS pos,
           unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE doc_id % 20 = 0
    """,
    tags=("fn", "explode"),
)
def explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode — the engine primitive behind the reference's
    Multi-geometry flatten (task.ts:171-186: one row per coordinates[i]
    with the part index carried into the id)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )


# ---------------------------------------------------------------------------
# Map-literal lookup (reference R10: label/color dictionaries)
# ---------------------------------------------------------------------------

SEGMENT_CODE = {
    "AUTOMOBILE": "AUT",
    "BUILDING": "BLD",
    "FURNITURE": "FRN",
    "HOUSEHOLD": "HSH",
    "MACHINERY": "MCH",
}


@register(
    "fn_map_lookup",
    oracle="""
    SELECT
      c_custkey,
      c_mktsegment,
      CASE c_mktsegment
        WHEN 'AUTOMOBILE' THEN 'AUT'
        WHEN 'BUILDING' THEN 'BLD'
        WHEN 'FURNITURE' THEN 'FRN'
        WHEN 'HOUSEHOLD' THEN 'HSH'
        WHEN 'MACHINERY' THEN 'MCH'
        ELSE 'UNK'
      END AS segment_code
    FROM customer
    """,
    tags=("fn",),
)
def fn_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-lookup projection — the reference's ordinal→label and
    ordinal→color tables (task.ts:118-134) as a create_map literal with a
    coalesce default (constant-folded by Catalyst)."""
    c = load_table(spark, sf_dir, "customer")
    pairs = []
    for k, v in SEGMENT_CODE.items():
        pairs += [F.lit(k), F.lit(v)]
    m = F.create_map(*pairs)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(F.element_at(m, F.col("c_mktsegment")), F.lit("UNK")).alias(
            "segment_code"
        ),
    )


# ---------------------------------------------------------------------------
# Conditionals (reference R11 fallback, R13 branch)
# ---------------------------------------------------------------------------


@register(
    "fn_conditional",
    oracle="""
    SELECT
      o_orderkey,
      CASE
        WHEN o_totalprice >= 300000 THEN 'large'
        WHEN o_totalprice >= 100000 THEN 'medium'
        ELSE 'small'
      END AS size_tier,
      coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
      CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
           THEN TRUE ELSE FALSE END AS is_urgent
    FROM orders
    WHERE o_orderkey % 3 = 0
    """,
    tags=("fn",),
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise ladders, nullif + coalesce fallback (the reference's
    'No Remarks' coalesce, task.ts:157, and Multi branch, task.ts:171)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("size_tier"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
        (F.col("o_orderpriority").like("1%") | F.col("o_orderpriority").like("2%"))
        .alias("is_urgent"),
    )


# ---------------------------------------------------------------------------
# JSON decode (reference R2/R5: strict envelope, lenient payload)
# ---------------------------------------------------------------------------


@register(
    "json_decode_strict",
    oracle="""
    SELECT event_id, CAST(props->>'k' AS INTEGER) AS k
    FROM events
    WHERE event_type IN ('click', 'view')
    """,
    tags=("json",),
)
def json_decode_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-enforced JSON decode — the reference's TypeBox envelope
    validation (task.ts:8-16,95). FAILFAST mode: a malformed payload aborts
    the query, matching the reference's fail-fast sources (task.ts:95,107)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    parsed = ev.withColumn(
        "j", F.from_json("props", "k int", {"mode": "FAILFAST"})
    )
    return parsed.select("event_id", F.col("j.k").alias("k"))


@register(
    "json_decode_lenient",
    oracle="""
    SELECT
      event_id,
      CASE WHEN json_valid(payload) THEN CAST(payload->>'k' AS INTEGER) END AS k,
      json_valid(payload) AS valid
    FROM (
      SELECT event_id,
             CASE WHEN event_id % 13 = 0 THEN 'not json{' ELSE props END AS payload
      FROM events
    )
    """,
    tags=("json",),
)
def json_decode_lenient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient JSON decode with corrupt-record tracking — the reference's
    catch-all union arm that lets unknown products through validation
    (task.ts:45-52). PERMISSIVE parse + columnNameOfCorruptRecord; a
    deterministic 1-in-13 slice of payloads is corrupted to exercise it."""
    ev = load_table(spark, sf_dir, "events")
    payload = F.when(F.col("event_id") % 13 == 0, F.lit("not json{")).otherwise(
        F.col("props")
    )
    parsed = ev.withColumn(
        "j",
        F.from_json(
            payload,
            "k int, _corrupt string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    return parsed.select(
        "event_id",
        F.col("j.k").alias("k"),
        F.col("j._corrupt").isNull().alias("valid"),
    )


@register(
    "json_extract_props",
    oracle="""
    SELECT event_id, event_type, json_extract_string(props, '$.k') AS k_str
    FROM events
    WHERE event_id % 2 = 0
    """,
    tags=("json",),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-based extraction from an embedded JSON column — the engine's
    treatment of the reference's `properties: Any` escape hatch
    (task.ts:13-14)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 2 == 0)
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").alias("k_str"),
    )


# ---------------------------------------------------------------------------
# Min-over-ordinal reduction (reference R9 — the worst-severity computation)
# ---------------------------------------------------------------------------

from etl_caic_spark.functions.ordinal import SEVERITY_ORDER, severity_rank  # noqa: E402


@register(
    "agg_least_ordinal",
    oracle="""
    WITH sev AS (
      SELECT
        l_orderkey, l_linenumber,
        CASE WHEN l_quantity < 10 THEN 'low'
             WHEN l_quantity < 20 THEN 'moderate'
             WHEN l_quantity < 30 THEN 'considerable'
             WHEN l_quantity < 40 THEN 'high'
             ELSE 'extreme' END AS sev_btl,
        CASE WHEN l_discount < 0.02 THEN 'noRating'
             WHEN l_discount < 0.04 THEN 'low'
             WHEN l_discount < 0.06 THEN 'moderate'
             WHEN l_discount < 0.08 THEN 'considerable'
             ELSE 'high' END AS sev_tln,
        CASE WHEN l_tax < 0.01 THEN 'unknownRating'
             WHEN l_tax < 0.04 THEN 'low'
             WHEN l_tax < 0.07 THEN 'considerable'
             ELSE 'extreme' END AS sev_alp
      FROM lineitem
      WHERE l_orderkey % 10 = 0
    ), ranked AS (
      SELECT *,
        CASE WHEN list_position(['extreme','high','considerable','moderate','low','noRating'], sev_btl) = 0
             THEN 6 ELSE list_position(['extreme','high','considerable','moderate','low','noRating'], sev_btl) END AS r1,
        CASE WHEN list_position(['extreme','high','considerable','moderate','low','noRating'], sev_tln) = 0
             THEN 6 ELSE list_position(['extreme','high','considerable','moderate','low','noRating'], sev_tln) END AS r2,
        CASE WHEN list_position(['extreme','high','considerable','moderate','low','noRating'], sev_alp) = 0
             THEN 6 ELSE list_position(['extreme','high','considerable','moderate','low','noRating'], sev_alp) END AS r3
      FROM sev
    )
    SELECT l_orderkey, l_linenumber, sev_btl, sev_tln, sev_alp,
           CAST(least(r1, r2, r3) AS INT) AS worst_rank,
           ['extreme','high','considerable','moderate','low','noRating'][least(r1, r2, r3)]
             AS worst
    FROM ranked
    """,
    tags=("agg", "ordinal"),
)
def agg_least_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's worst-case-danger reduction (R9, task.ts:116,143-146):
    row-wise min over an ordinal scale across three columns, then a lookup
    back to the label. Severity inputs are derived deterministically from
    lineitem numerics (the synthetic tables carry no rating strings); one
    branch emits an unknown string to pin the defined-fallback semantics."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    sev_btl = (
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 20, "moderate")
        .when(F.col("l_quantity") < 30, "considerable")
        .when(F.col("l_quantity") < 40, "high")
        .otherwise("extreme")
    )
    sev_tln = (
        F.when(F.col("l_discount") < 0.02, "noRating")
        .when(F.col("l_discount") < 0.04, "low")
        .when(F.col("l_discount") < 0.06, "moderate")
        .when(F.col("l_discount") < 0.08, "considerable")
        .otherwise("high")
    )
    sev_alp = (
        F.when(F.col("l_tax") < 0.01, "unknownRating")
        .when(F.col("l_tax") < 0.04, "low")
        .when(F.col("l_tax") < 0.07, "considerable")
        .otherwise("extreme")
    )
    d = li.select(
        "l_orderkey",
        "l_linenumber",
        sev_btl.alias("sev_btl"),
        sev_tln.alias("sev_tln"),
        sev_alp.alias("sev_alp"),
    )
    worst_rank = F.least(
        severity_rank("sev_btl"),
        severity_rank("sev_tln"),
        severity_rank("sev_alp"),
    )
    sev_array = F.array(*[F.lit(s) for s in SEVERITY_ORDER])
    return d.select(
        "l_orderkey",
        "l_linenumber",
        "sev_btl",
        "sev_tln",
        "sev_alp",
        worst_rank.cast("int").alias("worst_rank"),
        F.element_at(sev_array, worst_rank.cast("int")).alias("worst"),
    )
