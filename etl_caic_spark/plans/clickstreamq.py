"""Wave 17 (round 5): the clickstream-analytics FLAGSHIP — a third
end-to-end composition (after caic_pipeline and
corpus_curation_pipeline): sessionize → ordered funnel → last-touch
revenue attribution, oracled END-TO-END as one chained SQL twin.

Everything is exact: session boundaries compare gaps in fractional
epoch seconds computed as DuckDB's epoch(ts) does, funnel stages are
timestamp-ordered min() chains, revenue is integer cents, and the
per-session "entry channel" is picked by a TOTAL (ts, event_id) order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table

_GAP_S = 1800  # 30-minute session gap


def _epoch_s(ts):
    """Fractional epoch seconds, double(micros) / 1e6 — DuckDB's epoch(ts),
    so both engines compare bit-identical gaps."""
    return F.unix_micros(ts) / 1e6


@register(
    "clickstream_pipeline",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > {_GAP_S}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *,
             user_id * 1000000 + sum(is_new) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS sid,
             row_number() OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS _rn
      FROM marked
    ),
    entry AS (
      SELECT sid, event_type AS entry_channel FROM (
        SELECT sid, event_type,
               row_number() OVER (PARTITION BY sid
                                  ORDER BY ts, event_id) AS rn
        FROM sess
      ) WHERE rn = 1
    ),
    s1 AS (
      SELECT sid,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
      FROM sess GROUP BY 1
    ),
    s2 AS (
      SELECT s.sid,
             min(CASE WHEN s.event_type = 'click'
                       AND s.ts >= s1.first_view THEN s.ts END)
               AS first_click
      FROM sess s JOIN s1 ON s.sid = s1.sid
      WHERE s1.first_view IS NOT NULL
      GROUP BY 1
    ),
    s3 AS (
      SELECT s.sid,
             min(CASE WHEN s.event_type = 'purchase'
                       AND s.ts >= s2.first_click THEN s.ts END)
               AS first_purchase,
             CAST(sum(CASE WHEN s.event_type = 'purchase'
                            AND s.ts >= s2.first_click
                           THEN CAST(round(s.value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS funnel_rev_cents
      FROM sess s JOIN s2 ON s.sid = s2.sid
      WHERE s2.first_click IS NOT NULL
      GROUP BY 1
    )
    SELECT entry_channel,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(first_view) AS BIGINT) AS n_viewed,
           CAST(count(first_click) AS BIGINT) AS n_clicked,
           CAST(count(first_purchase) AS BIGINT) AS n_converted,
           CAST(coalesce(sum(CASE WHEN first_purchase IS NOT NULL
                                  THEN funnel_rev_cents END), 0) AS BIGINT)
             AS attributed_cents,
           round(count(first_purchase) * 1.0 / count(*), 4) AS conversion
    FROM entry
    LEFT JOIN s1 USING (sid)
    LEFT JOIN s2 USING (sid)
    LEFT JOIN s3 USING (sid)
    GROUP BY 1
    """,
    tags=("headline", "pipeline", "timeseries"),
)
def clickstream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream flagship: (1) gap-sessionize every user's event
    stream (30-min inactivity boundary, fractional-second epoch compare,
    (ts, event_id) total order); (2) run the ORDERED funnel
    view → click-after-view → purchase-after-click inside each session
    as a chain of conditional mins — each stage's timestamp gates the
    next, so out-of-order events can't fake a conversion; (3) attribute
    funnel-gated purchase revenue (integer cents) to the session's
    ENTRY channel (first event type by total order — last-touch's
    mirror); report per-channel sessions/stage-counts/revenue/
    conversion. Three shuffles total at any scale: the user_id window,
    the sid aggregates (which AQE co-partitions since sid extends
    user_id), and the tiny channel rollup. The funnel stages join back
    on sid — same partitioning, no extra exchange. Oracled end-to-end
    as one chained SQL statement, like corpus_curation_pipeline."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(
            F.lag("ts").over(wo).isNull()
            | (
                _epoch_s(F.col("ts")) - _epoch_s(F.lag("ts").over(wo)) > _GAP_S
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = marked.withColumn(
        "sid",
        F.col("user_id") * 1000000
        + F.sum("is_new").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("sid").orderBy("ts", "event_id")
    entry = (
        sess.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select("sid", F.col("event_type").alias("entry_channel"))
    )
    s1 = sess.groupBy("sid").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        )
    )
    s2 = (
        sess.join(s1.filter(F.col("first_view").isNotNull()), "sid")
        .groupBy("sid")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") >= F.col("first_view")),
                    F.col("ts"),
                )
            ).alias("first_click")
        )
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    s3 = (
        sess.join(s2.filter(F.col("first_click").isNotNull()), "sid")
        .groupBy("sid")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("first_click")),
                    F.col("ts"),
                )
            ).alias("first_purchase"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("first_click")),
                    cents,
                ).otherwise(0)
            ).alias("funnel_rev_cents"),
        )
    )
    full = (
        entry.join(s1, "sid", "left")
        .join(s2, "sid", "left")
        .join(s3, "sid", "left")
    )
    return full.groupBy("entry_channel").agg(
        F.count("*").alias("n_sessions"),
        F.count("first_view").alias("n_viewed"),
        F.count("first_click").alias("n_clicked"),
        F.count("first_purchase").alias("n_converted"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("first_purchase").isNotNull(),
                    F.col("funnel_rev_cents"),
                )
            ),
            F.lit(0),
        ).alias("attributed_cents"),
        F.round(F.count("first_purchase") / F.count("*"), 4).alias("conversion"),
    )


@register(
    "join_scd2_pit",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             CAST(floor(value / 100) AS BIGINT) AS tier,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM events WHERE event_type = 'signup'
    ),
    facts AS (
      SELECT user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT tier, CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM facts JOIN dim
      ON facts.user_id = dim.user_id
     AND facts.ts >= dim.valid_from
     AND (dim.valid_to IS NULL OR facts.ts < dim.valid_to)
    GROUP BY 1
    """,
    tags=("join", "timeseries", "warehouse"),
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of facts against an SCD2 dimension — the
    temporal-warehouse staple distinct from join_asof: each purchase is
    matched to the tier interval VALID AT ITS TIMESTAMP, where the
    dimension's validity intervals [valid_from, valid_to) are built
    from the user's signup updates with lead() (open-ended current
    interval = NULL valid_to). Intervals per user are disjoint by
    construction, so each fact matches at most one dimension version —
    no dedup needed, unlike a sloppy BETWEEN join against overlapping
    rows. Plan shape: equi key (user_id) carries the join; the interval
    predicate is a residual filter on the matched pairs — at 100 TB
    this shuffles both sides once on user_id, and the dimension side is
    |updates|, not |users × versions|. Purchases before the first
    signup correctly drop out (inner PIT semantics)."""
    ev = load_table(spark, sf_dir, "events")
    wd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("d_user"),
            F.floor(F.col("value") / 100).cast("bigint").alias("tier"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("valid_to"),
        )
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    joined = facts.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_purchases"),
        F.sum("cents").alias("revenue_cents"),
    )
