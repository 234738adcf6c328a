"""Warehouse-operations queries: keyset pagination, join-key skew
diagnostics, and bitemporal (valid-time x transaction-time) as-of
reads — operational patterns around the core analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table


@register(
    "scan_keyset_pagination",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE (o_orderdate, o_orderkey) >
          (TIMESTAMP '1996-06-01 00:00:00', 0)
    ORDER BY o_orderdate, o_orderkey
    LIMIT 100
    """,
    tags=("scan",),
)
def scan_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination: the next 100 orders after cursor
    (1996-06-01, 0) in (o_orderdate, o_orderkey) order — the
    scale-safe pagination pattern. OFFSET pagination re-scans and
    re-sorts everything before the page (O(offset) per page, and
    inconsistent under concurrent writes); the keyset predicate is
    sargable, so the scan PRUNES to rows past the cursor (visible as a
    pushed filter on o_orderdate) and TakeOrderedAndProject keeps only
    100 rows per partition.

    The tuple comparison is expanded to the standard
    (a > x) OR (a = x AND b > y) form, which Spark pushes down; DuckDB
    evaluates the row-value comparison identically.
    """
    o = load_table(spark, sf_dir, "orders")
    cursor_ts = F.lit("1996-06-01 00:00:00").cast("timestamp")
    after_cursor = (F.col("o_orderdate") > cursor_ts) | (
        (F.col("o_orderdate") == cursor_ts) & (F.col("o_orderkey") > 0)
    )
    return (
        o.filter(after_cursor)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "dq_key_skew",
    oracle="""
    WITH k AS (
      SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT cnt,
             CAST(row_number() OVER (ORDER BY cnt ASC, key ASC) AS BIGINT)
               AS rnk
      FROM k
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS tot,
             CAST(sum(rnk * cnt) AS BIGINT) AS wsum,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM ranked
    )
    SELECT n AS n_keys, tot AS n_rows, max_cnt,
           round(max_cnt * 1.0 * n / tot, 6) AS hot_key_ratio,
           round(2.0 * wsum / (n * tot) - (n + 1.0) / n, 6) AS gini
    FROM s
    """,
    tags=("dq", "scale"),
)
def dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for l_partkey — the pre-flight check
    that decides between a plain shuffle join and the salted/AQE-skew
    variants (join_salted_skew, join_aqe_skew): key count, row count,
    hottest-key multiplicity, hot-key ratio (max/mean), and the Gini
    coefficient of the key-frequency distribution
    (2*sum(rank*cnt)/(n*total) - (n+1)/n over ascending counts —
    0 = uniform keys, ->1 = one key owns everything).

    Plan: one groupBy for frequencies, one vocabulary-sized ranking
    window, one scalar aggregate — the diagnostic costs a single
    linear pass, which is the point: measuring skew must be cheaper
    than suffering it. All sums are exact integers; the two output
    ratios are single deterministic divisions.
    """
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    ranked = k.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.asc("cnt"), F.asc("key")))
        .cast("bigint")
        .alias("rnk"),
    )
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("tot"),
        F.sum(F.col("rnk") * F.col("cnt")).cast("bigint").alias("wsum"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    return s.select(
        F.col("n").alias("n_keys"),
        F.col("tot").alias("n_rows"),
        "max_cnt",
        F.round(
            F.col("max_cnt") * F.lit(1.0) * F.col("n") / F.col("tot"), 6
        ).alias("hot_key_ratio"),
        F.round(
            F.lit(2.0) * F.col("wsum") / (F.col("n") * F.col("tot"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


@register(
    "scd2_bitemporal",
    oracle="""
    WITH versions AS (
      -- tx version 1: the original row, recorded at its order date.
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_orderdate AS DATE) AS valid_from,
             CAST(o_orderdate AS DATE) AS tx_from,
             1 AS tx_version
      FROM orders
      UNION ALL
      -- tx version 2: a price CORRECTION for every 10th order, recorded
      -- 30 days later, retroactively effective from the same valid_from.
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) + 500,
             CAST(o_orderdate AS DATE),
             CAST(o_orderdate AS DATE) + INTERVAL 30 DAY,
             2
      FROM orders WHERE o_orderkey % 10 = 0
    ), as_of AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY o_orderkey
               ORDER BY tx_version DESC) AS rn
      FROM versions
      WHERE valid_from <= DATE '1998-01-01'
        AND tx_from <= DATE '1998-01-01'
    )
    SELECT o_orderkey, o_custkey, cents, tx_version
    FROM as_of WHERE rn = 1
    """,
    tags=("lakehouse", "scd"),
)
def scd2_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of read: the state of every order as VALID on
    1998-01-01 as KNOWN on 1998-01-01 — two independent time axes
    (business validity vs transaction/record time), the axis split that
    plain SCD2 (scd2_history / join_scd2_pit) collapses. The version
    table derives deterministically from orders (a retroactive price
    correction recorded 30 days after every 10th order), so a
    correction recorded after the transaction-time cutoff is invisible
    even though it is valid-time effective.

    Plan: union of two projections of the same scan (no join), filter
    both axes, then one per-key window to pick the latest visible
    transaction version — the same latest-visible-version shape as
    lakehouse_time_travel. One shuffle on o_orderkey; at 100 TB the
    version table is the thing you'd bucket by key so as-of reads stay
    shuffle-free.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    vdate = F.col("o_orderdate").cast("date")
    v1 = o.select(
        "o_orderkey",
        "o_custkey",
        cents.alias("cents"),
        vdate.alias("valid_from"),
        vdate.alias("tx_from"),
        F.lit(1).alias("tx_version"),
    )
    v2 = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        (cents + 500).alias("cents"),
        vdate.alias("valid_from"),
        F.date_add(vdate, 30).alias("tx_from"),
        F.lit(2).alias("tx_version"),
    )
    cutoff = F.lit("1998-01-01").cast("date")
    versions = v1.unionByName(v2).filter(
        (F.col("valid_from") <= cutoff) & (F.col("tx_from") <= cutoff)
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("tx_version"))
    return (
        versions.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "o_custkey", "cents", "tx_version")
    )


@register(
    "geo_trajectory_stats",
    oracle="""
    WITH pts AS (
      SELECT label, vec_id,
             CAST(embedding[1] AS DOUBLE) * 90.0 AS lat,
             CAST(embedding[2] AS DOUBLE) * 180.0 AS lon
      FROM embeddings
    ), seg AS (
      SELECT label, vec_id, lat, lon,
             lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
      FROM pts WINDOW w AS (PARTITION BY label ORDER BY vec_id)
    ), d AS (
      SELECT label,
             CAST(round(
               12742.0 * asin(sqrt(
                 pow(sin(radians(lat - plat) / 2), 2)
                 + cos(radians(plat)) * cos(radians(lat))
                   * pow(sin(radians(lon - plon) / 2), 2)
               )) * 1000000) AS BIGINT) AS seg_micro_km
      FROM seg WHERE plat IS NOT NULL
    ), bbox AS (
      SELECT CAST(label AS INT) AS label,
             CAST(count(*) AS BIGINT) AS n_points,
             round(min(lat), 6) AS min_lat, round(max(lat), 6) AS max_lat,
             round(min(lon), 6) AS min_lon, round(max(lon), 6) AS max_lon
      FROM pts GROUP BY 1
    ), path AS (
      SELECT CAST(label AS INT) AS label,
             CAST(sum(seg_micro_km) AS BIGINT) AS path_micro_km
      FROM d GROUP BY 1
    )
    SELECT b.label, b.n_points,
           COALESCE(p.path_micro_km, 0) AS path_micro_km,
           b.min_lat, b.max_lat, b.min_lon, b.max_lon
    FROM bbox b LEFT JOIN path p ON b.label = p.label
    """,
    tags=("geo", "timeseries"),
)
def geo_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trajectory movement statistics (one trajectory per embedding
    label, ordered by vec_id): point count, total great-circle path
    length, and bounding box. Each haversine segment is a deterministic
    per-row trig expression quantized to BIGINT micro-km BEFORE the sum
    — the freeze-then-sum discipline that keeps an accumulated float
    metric hash-exact (registry.py conventions).

    The bounding box (and the point count) aggregates the UNFILTERED
    point relation, so a trajectory's extreme FIRST point is included —
    segment rows drop each trajectory's first point (plat IS NULL) and
    a bbox computed from them could miss it. Path length joins back by
    label (coalesced to 0 for single-point trajectories).

    Plan: one window shuffle on the trajectory key for lag(), then two
    groupBys and a join all on the same key — AQE reuses the
    partitioning, so a trajectory is co-located once and never moves
    again. The classic GPS-track pipeline shape: at 100 TB trajectories
    partition by (device, day) and this exact plan runs per partition.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        "label",
        "vec_id",
        (F.element_at("embedding", 1).cast("double") * 90.0).alias("lat"),
        (F.element_at("embedding", 2).cast("double") * 180.0).alias("lon"),
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    seg = pts.select(
        "label",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    )
    hav = (
        F.lit(12742.0)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat") - F.col("plat")) / 2), 2)
                + F.cos(F.radians("plat"))
                * F.cos(F.radians("lat"))
                * F.pow(F.sin(F.radians(F.col("lon") - F.col("plon")) / 2), 2)
            )
        )
    )
    d = seg.filter(F.col("plat").isNotNull()).select(
        "label",
        F.round(hav * F.lit(1000000)).cast("bigint").alias("seg_micro_km"),
    )
    bbox = pts.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.round(F.min("lat"), 6).alias("min_lat"),
        F.round(F.max("lat"), 6).alias("max_lat"),
        F.round(F.min("lon"), 6).alias("min_lon"),
        F.round(F.max("lon"), 6).alias("max_lon"),
    )
    path = d.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.sum("seg_micro_km").cast("bigint").alias("path_micro_km")
    )
    return bbox.join(path, "label", "left").select(
        "label",
        "n_points",
        F.coalesce("path_micro_km", F.lit(0).cast("bigint")).alias(
            "path_micro_km"
        ),
        "min_lat",
        "max_lat",
        "min_lon",
        "max_lon",
    )


@register(
    "token_bucket_padding",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), b AS (
      SELECT ((n_tokens + 127) // 128) * 128 AS bucket_cap, n_tokens
      FROM d
    )
    SELECT bucket_cap,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
           CAST(sum(bucket_cap - n_tokens) AS BIGINT) AS padding_tokens,
           round(sum(bucket_cap - n_tokens) * 1.0
                 / (count(*) * bucket_cap), 6) AS waste_ratio
    FROM b GROUP BY bucket_cap
    """,
    tags=("text", "llm"),
)
def token_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch efficiency audit: bucket documents by padded
    length (multiples of 128 tokens — the fixed-shape batching most
    accelerators want), and measure the padding waste each bucket pays
    (padding / (docs * cap)). The complement of text_pack_sequences:
    packing eliminates padding by concatenation, bucketing tolerates it
    for sample integrity — this query prices that trade so the pipeline
    can pick per corpus.

    Plan: one narrow projection + one small groupBy (bucket count is
    max_len/128) — a metadata-scale pass at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    b = d.select(
        (((F.col("n_tokens") + 127) / 128).cast("bigint") * 128).alias(
            "bucket_cap"
        ),
        "n_tokens",
    )
    return b.groupBy("bucket_cap").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("real_tokens"),
        F.sum(F.col("bucket_cap") - F.col("n_tokens"))
        .cast("bigint")
        .alias("padding_tokens"),
        F.round(
            F.sum(F.col("bucket_cap") - F.col("n_tokens"))
            * F.lit(1.0)
            / (F.count("*") * F.col("bucket_cap")),
            6,
        ).alias("waste_ratio"),
    )


@register(
    "geo_dbscan_core",
    oracle="""
    WITH pts AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM pts a JOIN pts b
        ON a.vec_id < b.vec_id
       AND abs(a.x - b.x) <= 0.05 AND abs(a.y - b.y) <= 0.05
    ), deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS n_neighbors
      FROM (SELECT id_a AS v FROM pairs UNION ALL SELECT id_b FROM pairs)
      GROUP BY 1
    ), core AS (
      SELECT v FROM deg WHERE n_neighbors >= 3
    ), core_edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      WHERE id_a IN (SELECT v FROM core) AND id_b IN (SELECT v FROM core)
      UNION
      SELECT id_b, id_a FROM pairs
      WHERE id_a IN (SELECT v FROM core) AND id_b IN (SELECT v FROM core)
    ), rec AS (
      WITH RECURSIVE reach(s, d) AS (
        SELECT s, d FROM core_edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN core_edges e ON r.d = e.s
      ) SELECT * FROM reach
    )
    SELECT c.v AS vec_id, deg.n_neighbors,
           CAST(coalesce(least(min(r.d), c.v), c.v) AS BIGINT) AS cluster_id
    FROM core c
    JOIN deg ON c.v = deg.v
    LEFT JOIN rec r ON r.s = c.v
    GROUP BY c.v, deg.n_neighbors
    """,
    tags=("geo", "ml", "iterative"),
)
def geo_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core-point clustering (eps=0.05 Chebyshev, minPts=3
    neighbors): density-qualified points clustered by transitive
    eps-reachability among CORE points — the density-based clustering
    the k-means family can't express (arbitrary-shape clusters, no k).
    Border-point assignment is the standard second pass (a core-join);
    restricting to cores keeps the semantics deterministic (border
    points reachable from two clusters are tie-broken arbitrarily in
    textbook DBSCAN — the part that does NOT hash-match — so it is
    deliberately out of scope here).

    Plan: neighbor pairs from the grid-cell equi-join
    (operators/geo.grid_neighbor_pairs — no all-pairs), degree count,
    then connected components (operators/concomp.py — star contraction
    with pointer doubling at scale, recursive-CTE twin in the oracle).
    Linear in points x density; the eps grid bounds every join input.
    """
    from etl_caic_spark.operators.concomp import connected_components
    from etl_caic_spark.operators.geo import grid_neighbor_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    pairs = grid_neighbor_pairs(pts, "vec_id", "x", "y", eps=0.05).select(
        "id_a", "id_b"
    ).localCheckpoint()
    deg = (
        pairs.select(F.col("id_a").alias("v"))
        .unionAll(pairs.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("n_neighbors"))
    )
    core = deg.filter(F.col("n_neighbors") >= 3).select("v")
    core_a = core.select(F.col("v").alias("id_a"))
    core_b = core.select(F.col("v").alias("id_b"))
    core_edges = (
        pairs.join(core_a, "id_a").join(core_b, "id_b")
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    comp = connected_components(core_edges)
    return (
        core.join(deg, "v")
        .join(comp, "v", "left")
        .select(
            F.col("v").alias("vec_id"),
            "n_neighbors",
            F.coalesce("component", F.col("v")).cast("bigint").alias("cluster_id"),
        )
    )
