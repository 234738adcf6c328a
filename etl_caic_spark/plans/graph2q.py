"""Wave 23 (round 5): second-order graph analytics — common-neighbor /
Jaccard link prediction and per-node local clustering coefficient —
over the same deterministic event-interaction graph as graphq.py (user →
previous user in the event_type stream), so both engines construct the
identical edge list and every metric is integer-exact.

Scale strategy: the event graph is DENSE (every node's degree grows
with events-per-user — at sf0.01 the minimum degree is already 69), so
both queries run on DETERMINISTICALLY TRUNCATED adjacency: each node
keeps its K=32 smallest neighbor ids (row_number over a total order —
reproducible on any engine, unlike random neighbor sampling). This is
the neighbor-sampling trick production link-prediction pipelines use
(e.g. PYMK-style systems): it bounds the quadratic wedge join at
n·K² REGARDLESS of how degrees grow with data volume, where a fixed
degree-cap filter would either empty the graph or stop capping as the
distribution shifts. The kept lists are then MUTUAL-kNN symmetrized
(edge survives only if both endpoints kept each other), so every node's
degree is ≤ K in EVERY join role — without mutuality, a node kept by
many others re-creates the hub blowup on the shared-neighbor key. Metrics are exact over the truncated graph and
the truncation is part of the operator contract (full degree is
reported alongside).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.registry import register
from etl_caic_spark.util import strip_plan_stats
from etl_caic_spark.sources import load_table

_K = 32  # neighbors kept per node (smallest ids — deterministic)

# Undirected deduped edges -> per-node K-truncated neighbor lists, plus
# the full degree for reporting. Shared by both queries.
_UND_SQL = f"""
    ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events
    ),
    seq AS (
      SELECT lag(user_id) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS src,
             user_id AS dst
      FROM ev
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM seq WHERE src IS NOT NULL AND src <> dst
    ),
    nbr_all AS (
      SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
            FROM nbr_all GROUP BY 1),
    nbr_trunc AS (
      SELECT v, w FROM (
        SELECT v, w, row_number() OVER (PARTITION BY v ORDER BY w) AS rk
        FROM nbr_all
      ) WHERE rk <= {_K}
    ),
    nbr AS (
      SELECT t1.v, t1.w FROM nbr_trunc t1
      JOIN nbr_trunc t2 ON t1.v = t2.w AND t1.w = t2.v
    )
"""


def _build_und(spark: SparkSession, sf_dir: str):
    """Spark twin of _UND_SQL: (nbr truncated to K per node, full deg)."""
    return build_truncated_adjacency(load_table(spark, sf_dir, "events"))


def build_truncated_adjacency(ev: DataFrame):
    """Mutual-kNN truncated adjacency from an events DataFrame — the
    shared build of graph_jaccard_links and graph_clustering_coeff."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("user_id").over(w).alias("src"), F.col("user_id").alias("dst")
    )
    und = (
        seq.where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    nbr_all = und.select(F.col("a").alias("v"), F.col("b").alias("w")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    deg = nbr_all.groupBy("v").agg(F.count("*").cast("bigint").alias("deg"))
    wv = Window.partitionBy("v").orderBy("w")
    trunc = (
        nbr_all.withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") <= _K)
        .select("v", "w")
    )
    # Mutual-kNN symmetrization: keep (v, w) only if BOTH kept each
    # other — the adjacency is symmetric and every node's degree is
    # <= K in every role, which is what bounds the wedge join.
    rev = trunc.select(F.col("w").alias("v"), F.col("v").alias("w"))
    nbr = trunc.join(rev, ["v", "w"], "left_semi")
    return nbr, deg


@register(
    "graph_jaccard_links",
    oracle=f"""
    WITH {_UND_SQL},
    cdeg AS (SELECT v, CAST(count(*) AS BIGINT) AS cdeg FROM nbr GROUP BY 1),
    pairs AS (
      SELECT n1.v AS a, n2.v AS b, CAST(count(*) AS BIGINT) AS common
      FROM nbr n1 JOIN nbr n2 ON n1.w = n2.w AND n1.v < n2.v
      GROUP BY 1, 2
    )
    SELECT p.a, p.b, p.common,
           CAST(da.cdeg AS BIGINT) AS kdeg_a,
           CAST(db.cdeg AS BIGINT) AS kdeg_b,
           round(p.common * 1.0 / (da.cdeg + db.cdeg - p.common), 6) AS jaccard
    FROM pairs p
    JOIN cdeg da ON da.v = p.a
    JOIN cdeg db ON db.v = p.b
    LEFT JOIN und e ON e.a = p.a AND e.b = p.b
    WHERE e.a IS NULL AND p.common >= 3
    """,
    tags=("graph", "join"),
)
def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard over K-truncated
    adjacency: for every NON-adjacent node pair sharing ≥3 sampled
    common neighbors, score |Nk(a)∩Nk(b)| / (|Nk(a)|+|Nk(b)|−|∩|) —
    the people-you-may-know / related-entities primitive. The
    intersection comes from the wedge self-join (two-path enumeration,
    never node×node), existing edges are anti-joined out, and the
    Jaccard is one division of exact BIGINTs over the truncated sets.

    Scale: the wedge join is the canonical quadratic risk — bounded
    here at n·K² (K={_K}) by the deterministic neighbor truncation,
    which holds at ANY data scale (a fixed degree-cap filter does not:
    this fixture's min degree is 69 at sf0.01 and grows with sf).
    All shuffles are key-partitioned; the map-side groupBy combines
    wedge counts before the exchange."""
    nbr, _deg = _build_und(spark, sf_dir)
    cdeg = nbr.groupBy("v").agg(F.count("*").cast("bigint").alias("cdeg"))
    # Wedge join keyed on the SHARED NEIGHBOR: centers (a, b) both kept
    # x, so common = |Nk(a) ∩ Nk(b)| over the mutual adjacency and can
    # never exceed either truncated degree.
    n2 = nbr.select(F.col("v").alias("v2"), F.col("w"))
    pairs = (
        nbr.join(n2, "w")
        .where(F.col("v") < F.col("v2"))
        .groupBy(F.col("v").alias("a"), F.col("v2").alias("b"))
        .agg(F.count("*").cast("bigint").alias("common"))
    )
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("user_id").over(w).alias("src"), F.col("user_id").alias("dst")
    )
    existing = (
        seq.where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    out = (
        pairs.join(existing, ["a", "b"], "left_anti")
        .where(F.col("common") >= 3)
        .join(
            cdeg.select(F.col("v").alias("a"), F.col("cdeg").alias("kdeg_a")),
            "a",
        )
        .join(
            cdeg.select(F.col("v").alias("b"), F.col("cdeg").alias("kdeg_b")),
            "b",
        )
    )
    return out.select(
        "a",
        "b",
        "common",
        F.col("kdeg_a").cast("bigint").alias("kdeg_a"),
        F.col("kdeg_b").cast("bigint").alias("kdeg_b"),
        F.round(
            F.col("common")
            * 1.0
            / (F.col("kdeg_a") + F.col("kdeg_b") - F.col("common")),
            6,
        ).alias("jaccard"),
    )


@register(
    "graph_clustering_coeff",
    oracle=f"""
    WITH {_UND_SQL},
    capped_und AS (SELECT v AS a, w AS b FROM nbr WHERE v < w),
    tri AS (
      SELECT n1.w AS a, n2.w AS b, n1.v AS apex
      FROM nbr n1 JOIN nbr n2 ON n1.v = n2.v AND n1.w < n2.w
    ),
    closed AS (
      SELECT t.apex AS v, CAST(count(*) AS BIGINT) AS tri_cnt
      FROM tri t JOIN capped_und e ON e.a = t.a AND e.b = t.b
      GROUP BY 1
    ),
    cdeg AS (SELECT v, CAST(count(*) AS BIGINT) AS cdeg
             FROM nbr GROUP BY 1)
    SELECT d.v AS user_id, d.cdeg AS kdeg,
           CAST(g.deg AS BIGINT) AS full_degree,
           CAST(coalesce(c.tri_cnt, 0) AS BIGINT) AS triangles,
           round(2.0 * coalesce(c.tri_cnt, 0) / (d.cdeg * (d.cdeg - 1)), 6)
             AS clustering
    FROM cdeg d
    JOIN deg g ON g.v = d.v
    LEFT JOIN closed c ON c.v = d.v
    WHERE d.cdeg >= 2
    """,
    tags=("graph", "join"),
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficient over the K-truncated
    adjacency (how many of my sampled neighbors know each other):
    wedges centered at each node are enumerated by the same two-path
    join as graph_jaccard_links, closed wedges are found by joining
    the wedge endpoints against the truncated edge list, and
    clustering = 2·tri / (k·(k−1)) is one rounded division of exact
    integers. Full degree is reported next to the truncated k so the
    sampling is visible, not hidden. Complements graph_triangles
    (global count) with the node-level distribution used for
    community/bot detection.

    Scale: same n·K² wedge envelope as the Jaccard query; the closure
    probe joins wedges to edges on the (a,b) key both sides already
    shuffle on. Nodes with truncated degree < 2 are excluded
    (coefficient undefined)."""
    nbr, deg = _build_und(spark, sf_dir)
    capped_und = nbr.where(F.col("v") < F.col("w")).select(
        F.col("v").alias("a"), F.col("w").alias("b")
    )
    n2 = nbr.select(F.col("v"), F.col("w").alias("w2"))
    tri = (
        nbr.join(n2, "v")
        .where(F.col("w") < F.col("w2"))
        .select(
            F.col("w").alias("a"), F.col("w2").alias("b"), F.col("v").alias("apex")
        )
    )
    closed = (
        tri.join(capped_und, ["a", "b"])
        .groupBy(F.col("apex").alias("v"))
        .agg(F.count("*").cast("bigint").alias("tri_cnt"))
    )
    cdeg = nbr.groupBy("v").agg(F.count("*").cast("bigint").alias("cdeg"))
    out = (
        cdeg.join(deg, "v")
        .join(closed, "v", "left")
        .where(F.col("cdeg") >= 2)
    )
    return out.select(
        F.col("v").alias("user_id"),
        F.col("cdeg").alias("kdeg"),
        F.col("deg").cast("bigint").alias("full_degree"),
        F.coalesce("tri_cnt", F.lit(0)).cast("bigint").alias("triangles"),
        F.round(
            2.0
            * F.coalesce("tri_cnt", F.lit(0))
            / (F.col("cdeg") * (F.col("cdeg") - 1)),
            6,
        ).alias("clustering"),
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unroll k-core peeling rounds as CTE layers (the pagerank/SSSP
    oracle convention): survivors r+1 = nodes whose degree within the
    round-r induced subgraph is >= k."""
    parts = [f"WITH {_UND_SQL}"]
    prev_nodes = "deg"  # round 0: all nodes with their full degree
    parts.append(
        f""",
    p0 AS (SELECT v FROM deg WHERE deg >= {k})"""
    )
    prev = "p0"
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    e{r} AS (
      SELECT n.v, n.w FROM nbr_all n
      JOIN {prev} a ON a.v = n.v
      JOIN {prev} b ON b.v = n.w
    ),
    d{r} AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM e{r} GROUP BY 1),
    p{r} AS (SELECT v FROM d{r} WHERE deg >= {k})"""
        )
        prev = f"p{r}"
    parts.append(
        f"""
    SELECT d.v AS user_id, g.deg AS full_degree, d.deg AS core_degree
    FROM d{rounds} d
    JOIN {prev} p ON p.v = d.v
    JOIN deg g ON g.v = d.v
    """
    )
    return "".join(parts)


_KCORE_K = 70
_KCORE_ROUNDS = 3


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    tags=("graph", "iterative"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (k=70, 3 rounds —
    enough to converge on this fixture): each round drops nodes whose
    degree WITHIN THE SURVIVING SUBGRAPH falls below k, recomputing
    induced degrees with two semi-joins + one count per round. The
    k-core is the classic community/spam-ring denoiser: it removes
    low-engagement periphery without any threshold tuning on raw
    degree. The oracle unrolls the same rounds as CTE layers
    (the pagerank/SSSP convention), so this iterative algorithm is
    hash-verified exactly, not just rows-counted.

    Scale: each round is edge-list-sized work — two broadcast-able
    semi-joins against the (much smaller) survivor set and one
    map-side-combinable degree count; rounds are bounded (degeneracy
    peeling converges geometrically in practice). At 100 TB run rounds
    until a fixed point with localCheckpoint between them, exactly
    like operators/pagerank.py does."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("user_id").over(w).alias("src"), F.col("user_id").alias("dst")
    )
    und = (
        seq.where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    # localCheckpoint: the edge list is referenced by every peel round
    # and the survivor frontier feeds round r+1 — without cutting the
    # lineage Spark re-derives the window+distinct pipeline once per
    # REFERENCE (measured 17.7 s at sf0.1; 3.9 s after checkpointing),
    # exactly the operators/pagerank.py lesson.
    nbr_all = (
        und.select(F.col("a").alias("v"), F.col("b").alias("w"))
        .unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("w")))
        .localCheckpoint()
    )
    deg0 = nbr_all.groupBy("v").agg(F.count("*").cast("bigint").alias("deg"))
    survivors = deg0.where(F.col("deg") >= _KCORE_K).select("v")
    d = None
    for _ in range(_KCORE_ROUNDS):
        # strip_plan_stats: survivors semi-joins frames derived from its
        # own previous round - carried sizeInBytes compounds per round
        # without the strip (the r10 registry convention for ALL
        # iterative self-join loops; bounded here, but the loop must
        # stay planner-safe at any round count).
        survivors = strip_plan_stats(survivors.localCheckpoint())
        edges = nbr_all.join(survivors, "v", "left_semi").join(
            survivors.select(F.col("v").alias("w")), "w", "left_semi"
        )
        d = edges.groupBy("v").agg(F.count("*").cast("bigint").alias("deg"))
        survivors = d.where(F.col("deg") >= _KCORE_K).select("v")
    out = (
        d.join(survivors, "v", "left_semi")
        .join(deg0.select(F.col("v"), F.col("deg").alias("full_degree")), "v")
    )
    return out.select(
        F.col("v").alias("user_id"),
        F.col("full_degree"),
        F.col("deg").alias("core_degree"),
    )
