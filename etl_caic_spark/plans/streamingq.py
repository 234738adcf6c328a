"""Streaming-operator queries (milestone M4). The driver-facing queries run
the BATCH form of each windowed aggregation (oracled in DuckDB via
time_bucket / gaps-and-islands); tests/test_streaming.py replays the same
transformations as real Structured Streaming file streams and asserts
equality (batch↔stream equivalence, SURVEY.md §5.2.3).

stream_watermark runs a REAL streaming query (availableNow + memory sink)
inside the builder; its append-mode emission rule is still SQL-expressible
(windows closed before max_ts - delay), so even that one is oracled."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.streaming import windows as SW


@register(
    "stream_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregation (batch form of the streaming
    operator; stream equivalence asserted in tests)."""
    return SW.tumbling_agg(load_table(spark, sf_dir, "events"))


@register(
    "stream_sliding",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                      - k * INTERVAL '15 minutes',
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total
    FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) offsets
    GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes — each event lands in 4
    windows (oracle: offset cross join, the SQL dual of slide)."""
    return SW.sliding_agg(load_table(spark, sf_dir, "events"))


@register(
    "stream_session",
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                       >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ), s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S')
             AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    tags=("streaming",),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user. Oracle: gaps-and-islands
    SQL — a new session starts when the gap is >= 30min (Spark sessions are
    half-open [start, last+gap))."""
    return SW.session_agg(load_table(spark, sf_dir, "events"))


@register(
    "stream_stream_join",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '1 hour'
     AND c.ts <= p.ts
    """,
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream inner interval join: purchases ⋈ clicks within
    the preceding hour per user, both sides watermarked (state for the
    click side is bounded to the 1h+watermark horizon). Inner joins emit
    every matched pair regardless of watermark progress, so an
    availableNow replay equals the batch interval join — the oracle.

    Scale: stream-stream joins shuffle both sides on user_id; the interval
    condition bounds state retention — the streaming analogue of the
    as-of/range join."""
    from pyspark.sql import functions as SF

    p = (
        SW.read_events_stream(spark, sf_dir)
        .filter(SF.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            SF.col("event_id").alias("purchase_id"),
            "user_id",
            SF.col("ts").alias("p_ts"),
        )
    )
    c = (
        SW.read_events_stream(spark, sf_dir)
        .filter(SF.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            SF.col("event_id").alias("click_id"),
            SF.col("user_id").alias("c_user"),
            SF.col("ts").alias("c_ts"),
        )
    )
    joined = p.join(
        c,
        (SF.col("user_id") == SF.col("c_user"))
        & (SF.col("c_ts") >= SF.col("p_ts") - SF.expr("INTERVAL 1 HOUR"))
        & (SF.col("c_ts") <= SF.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    return SW.run_stream_to_table(spark, joined, "append")


@register(
    "stream_watermark",
    oracle="""
    WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
    SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL '1 hour', min(CAST(ts AS TIMESTAMP)))
             + INTERVAL '1 hour'
           <= (SELECT max_ts - INTERVAL '10 minutes' FROM mx)
    """,
    tags=("streaming",),
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming query: file-source replay (availableNow),
    10-minute watermark, append-mode tumbling counts via the memory sink.
    Append mode emits exactly the windows whose end <= final watermark
    (max event time - 10min) — the oracle's HAVING clause."""
    stream = SW.read_events_stream(spark, sf_dir)
    agg = SW.watermarked_tumbling(stream, "10 minutes")
    return SW.run_stream_to_table(spark, agg, "append")


@register(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           strftime(CAST(e.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
           c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-static enrichment join: the event stream joins the
    static customer dimension per micro-batch. Stateless (no watermark,
    no state store) — the static side is planned as a broadcast hash join
    inside every batch, so an availableNow replay equals the batch join.

    Scale: THE standard streaming-enrichment shape; the dim is re-resolved
    each batch (picks up slowly-changing dims) and broadcast, so the
    stream side never shuffles."""
    from pyspark.sql import functions as SF

    ev = SW.read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = ev.join(
        SF.broadcast(cust), ev["user_id"] == cust["c_custkey"], "inner"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        SF.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "c_name",
        "c_mktsegment",
    )
    return SW.run_stream_to_table(spark, joined, "append")


@register(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming deduplication: dropDuplicatesWithinWatermark on
    (user_id, event_type) with a 10-day watermark horizon (longer than the
    replayed span, so the availableNow replay equals batch DISTINCT — the
    oracle). Only the dedup keys are emitted, so the output is independent
    of WHICH physical row won.

    Scale: state is one entry per live key, expired by the watermark —
    the streaming analogue of dedup_exact; the horizon bounds state at
    (keys active per horizon), not (all keys ever)."""
    from pyspark.sql import functions as SF

    ev = SW.read_events_stream(spark, sf_dir).withWatermark("ts", "10 days")
    deduped = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return SW.run_stream_to_table(spark, deduped, "append")


@register(
    "stream_foreach_batch",
    oracle="""
    SELECT event_id, user_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
           value
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("streaming", "sink"),
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL foreachBatch sink: the event stream is replayed (availableNow)
    and every micro-batch is appended to a parquet sink by the foreachBatch
    callback — the escape hatch for sinks Structured Streaming doesn't
    support natively (JDBC upserts, REST submits; the streamed CAIC
    pipeline uses the same hook). The roundtrip read-back must equal the
    batch filter — the oracle.

    Scale: foreachBatch runs the callback on the DRIVER but the write it
    issues is a normal distributed job; exactly-once comes from the
    checkpoint + idempotent (overwrite-by-batch or transactional) sinks."""
    import shutil

    from pyspark.sql import functions as SF

    from etl_caic_spark.util import scratch_path

    sink_dir = scratch_path("etl_caic_fb_sink")
    ckpt_dir = scratch_path("etl_caic_fb_ckpt")
    shutil.rmtree(sink_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    ev = (
        SW.read_events_stream(spark, sf_dir)
        .filter(SF.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            SF.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "value",
        )
    )

    def _sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(sink_dir)

    q = (
        ev.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_dir)


@register(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total
    FROM events GROUP BY 1
    """,
    tags=("streaming", "stateful", "udf"),
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL custom stateful operator: applyInPandasWithState running
    per-user (count, sum) totals (streaming/stateful.py), replayed with
    availableNow. Each key emits its cumulative total once per batch it
    appears in; the FINAL state (row with the max running count per key)
    must equal the batch group-by — the oracle. value is 2-decimal, so
    round(total, 2) recovers the exact sum on both engines.

    Scale: state is two numbers per key, partitioned by the grouping
    key — O(distinct keys), independent of stream length."""
    from pyspark.sql import functions as SF

    from etl_caic_spark.streaming.stateful import running_user_totals

    ev = SW.read_events_stream(spark, sf_dir).select("user_id", "value")
    out = SW.run_stream_to_table(spark, running_user_totals(ev), "update")
    return out.groupBy("user_id").agg(
        SF.max("n").cast("bigint").alias("n"),
        SF.round(SF.max_by("total", "n"), 2).alias("total"),
    )


@register(
    "stream_python_datasource",
    oracle="""
    SELECT s AS id, CAST(s % 8 AS INT) AS part,
           (s * 2654435761) % 1000003 AS val,
           'p' || CAST(s % 7 AS VARCHAR) AS label
    FROM generate_series(0, 1499) t(s)
    """,
    tags=("streaming", "source", "datasource"),
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming read through the custom Python DataSource
    (sources/pyds.SynthSeqStreamReader — Spark 4
    SimpleDataSourceStreamReader): two scheduled availableNow runs drain
    the 1500-row sequence in 750-row micro-batches, with the CHECKPOINT
    carrying the cursor between runs — the scheduled-pull ingestion
    pattern (the streaming twin of the reference's scheduled Lambda
    snapshot, task.ts:88-107): each run resumes exactly where the last
    committed offset left off, so re-runs never duplicate and never skip.
    The oracle is the full closed-form sequence — equality proves the
    offset hand-off is exact."""
    import shutil

    from etl_caic_spark.sources.pyds import register_synthseq
    from etl_caic_spark.util import scratch_path

    register_synthseq(spark)
    ckpt = scratch_path("etl_caic_pyds_stream_ckpt")
    out = scratch_path("etl_caic_pyds_stream_out")
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    for _run in range(2):  # two scheduled pulls share one checkpoint
        q = (
            spark.readStream.format("synthseq")
            .option("n", 1500)
            .option("rowsPerBatch", 750)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.read.parquet(out)


@register(
    "stream_outer_join",
    oracle="""
    WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events),
    p AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '1 hour'
     AND c.ts <= p.ts
    WHERE p.ts < (SELECT max_ts - INTERVAL '3 hours' FROM mx)
    """,
    tags=("streaming", "join"),
)
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream LEFT OUTER interval join — the shape that
    needs watermark-driven state EVICTION to be correct: a purchase with
    no click in its preceding hour can only be emitted (with a NULL
    click) once the event-time watermark proves no matching click can
    still arrive. The theoretical eviction point is the purchase's own
    timestamp, but Spark's state watermark is conservative (measured
    here: nulls stopped flowing ~30min before final watermark = max ts
    - 2h), so the comparison is pinned to a PROVABLY-final horizon:
    both the stream result and the oracle keep only purchases older
    than max ts - 3h (watermark delay + the 1h interval span). Every
    eviction inside that horizon must have fired — the null-padded
    rows ARE the hash-verified eviction semantics — while rows nearer
    the end, whose emission depends on the engine's conservatism, are
    excluded on both sides identically.

    Scale: same both-sides shuffle on user_id as the inner join; the
    outer side's state is bounded by watermark + interval horizon. The
    no-data finalization batch (Spark's noDataMicroBatches) is what
    flushes the last evictions — required for ANY bounded replay."""
    from pyspark.sql import functions as SF

    p = (
        SW.read_events_stream(spark, sf_dir)
        .filter(SF.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            SF.col("event_id").alias("purchase_id"),
            "user_id",
            SF.col("ts").alias("p_ts"),
        )
    )
    c = (
        SW.read_events_stream(spark, sf_dir)
        .filter(SF.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            SF.col("event_id").alias("click_id"),
            SF.col("user_id").alias("c_user"),
            SF.col("ts").alias("c_ts"),
        )
    )
    joined = p.join(
        c,
        (SF.col("user_id") == SF.col("c_user"))
        & (SF.col("c_ts") >= SF.col("p_ts") - SF.expr("INTERVAL 1 HOUR"))
        & (SF.col("c_ts") <= SF.col("p_ts")),
        "left_outer",
    ).select("purchase_id", "click_id", "user_id", "p_ts")
    out = SW.run_stream_to_table(spark, joined, "append")
    # pin the provably-final horizon (see docstring) relationally — the
    # 1-row max frame cross-joins in, no driver-side collect
    mx = (
        load_table(spark, sf_dir, "events")
        .agg(SF.max("ts").alias("max_ts"))
        .select((SF.col("max_ts") - SF.expr("INTERVAL 3 HOURS")).alias("cut"))
    )
    return (
        out.crossJoin(SF.broadcast(mx))
        .filter(SF.col("p_ts") < SF.col("cut"))
        .select("purchase_id", "click_id", "user_id")
    )
