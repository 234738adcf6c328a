"""Round-8 wave D: t-closeness, Adamic-Adar link prediction, corpus
chrF2, and a 2-D skyline — four more capability classes.

- ``priv_t_closeness``: the third member of the privacy-audit trio
  (priv_k_anonymity privacyq.py, priv_l_diversity wave8b.py). For an
  ORDERED sensitive attribute the Earth Mover's Distance between a
  QI-group's distribution and the global one is the mean |cumulative
  difference|; scaling both CDFs by n_g*N keeps every partial sum an
  exact BIGINT, so the single float op per group is one final
  divide-then-round.
- ``graph_adamic_adar``: link prediction over the deterministic sparse
  graph shared with graph_triangles (graphq.py:108). Each common
  neighbor y contributes 1/ln(deg(y)); the contribution is frozen as
  round(1e12 / iln(deg)) where iln is the registry's micro-nat integer
  log, so per-pair scores are BIGINT sums.
- ``eval_chrf_corpus``: corpus-level chrF2 (character 2- and 3-gram
  F-score, beta=2) between paired documents. The algebra collapses to
  F2 = 5m/(4r+h) — integer counts and ONE rounded division per order —
  so no exp/log is needed at all.
- ``analytics_skyline``: the 2-D pareto-front (skyline) operator:
  cheapest-for-the-size parts under (min price, max size) dominance.
  The Spark plan is the O(n log n) cumulative-max sweep; the oracle is
  the textbook quadratic NOT EXISTS, so the hash match also certifies
  the sweep against the declarative dominance definition.

Reference parity: none of these exist in the reference (task.ts has no
privacy/graph/eval/skyline surface) — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.operators.eventgraph import deterministic_event_edges, symmetrize
from etl_caic_spark.operators.micronat import iln
from etl_caic_spark.operators.prefix import with_global_order
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.util import widen_narrow_scan

# --------------------------------------------------------------------------
# priv_t_closeness
# --------------------------------------------------------------------------

_TCLOSE_SQL = """
    WITH j AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority
      FROM customer JOIN orders ON o_custkey = c_custkey
    ),
    levels AS (SELECT DISTINCT o_orderpriority FROM j),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n_levels FROM levels),
    gdist AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS gc FROM j GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM j),
    grp AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_grp
      FROM j GROUP BY 1, 2
    ),
    cell AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority,
             CAST(count(*) AS BIGINT) AS c
      FROM j GROUP BY 1, 2, 3
    ),
    dense AS (
      SELECT g.c_nationkey, g.c_mktsegment, g.n_grp,
             l.o_orderpriority, gl.gc,
             coalesce(c.c, 0) AS c
      FROM grp g CROSS JOIN levels l
      JOIN gdist gl ON gl.o_orderpriority = l.o_orderpriority
      LEFT JOIN cell c
        ON c.c_nationkey = g.c_nationkey
       AND c.c_mktsegment = g.c_mktsegment
       AND c.o_orderpriority = l.o_orderpriority
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, n_grp, o_orderpriority,
             CAST(sum(c) OVER w AS BIGINT) AS cum_c,
             CAST(sum(gc) OVER w AS BIGINT) AS cum_g
      FROM dense CROSS JOIN tot
      WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY o_orderpriority
                   ROWS UNBOUNDED PRECEDING)
    ),
    emd AS (
      SELECT c_nationkey, c_mktsegment, n_grp,
             CAST(sum(abs(n_tot * cum_c - n_grp * cum_g)) AS BIGINT) AS dsum
      FROM cum CROSS JOIN tot
      GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, n_grp,
           CAST(round(dsum * 1000000.0
                      / ((n_levels - 1) * n_grp * n_tot)) AS BIGINT)
             AS t_micro,
           CAST(round(dsum * 1000000.0
                      / ((n_levels - 1) * n_grp * n_tot)) AS BIGINT)
             > 200000 AS at_risk
    FROM emd CROSS JOIN tot CROSS JOIN m
"""


@register("priv_t_closeness", oracle=_TCLOSE_SQL, tags=("privacy", "dq"))
def priv_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the (nation, market segment) quasi-identifier
    groups with order priority as the ORDERED sensitive attribute: the
    ordinal Earth Mover's Distance between a group's priority distribution
    and the global one is mean_k |P_cdf(k) - Q_cdf(k)|. Both CDFs are
    scaled by n_grp * n_tot so every cumulative term
    |n_tot*cum_c - n_grp*cum_G| is an exact BIGINT; the single float op
    per group is the final divide-by-(m-1)*n_grp*n_tot, rounded once to
    micro-units. Groups with t > 0.2 are flagged.

    Plan shape: one broadcast dim join, two map-side-combinable groupBys,
    a groups x 5-level dense grid (broadcast of the 5-row level dim), one
    PARTITIONED cumulative window, one reduce. The fact-table shuffle
    carries at most |QI|x|levels| rows at any scale. At 100 TB: identical —
    every frame after the first groupBy is dimension-sized.

    Bigint headroom: n_tot * cum_c <= n_tot * n_grp <= n_tot^2; safe
    through ~3e9 fact rows per run, the documented audit-partition size
    (run per date partition above that)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "c_nationkey", "c_mktsegment", "o_orderpriority"
    )
    cell = j.groupBy("c_nationkey", "c_mktsegment", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("c")
    )
    glob = j.groupBy("o_orderpriority").agg(F.count("*").cast("bigint").alias("gc"))
    levels = glob.select("o_orderpriority", "gc")
    n_levels = F.lit(glob.count()).cast("bigint")  # 5-row dim: scalar is exact
    tot = j.agg(F.count("*").cast("bigint").alias("n_tot"))
    grp = j.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_grp")
    )
    dense = (
        grp.crossJoin(F.broadcast(levels))
        .join(
            cell,
            ["c_nationkey", "c_mktsegment", "o_orderpriority"],
            "left",
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_grp",
            "o_orderpriority",
            "gc",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("o_orderpriority")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dense.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "c_mktsegment",
        "n_grp",
        "n_tot",
        F.sum("c").over(w).cast("bigint").alias("cum_c"),
        F.sum("gc").over(w).cast("bigint").alias("cum_g"),
    )
    emd = cum.groupBy("c_nationkey", "c_mktsegment", "n_grp", "n_tot").agg(
        F.sum(F.abs(F.col("n_tot") * F.col("cum_c") - F.col("n_grp") * F.col("cum_g")))
        .cast("bigint")
        .alias("dsum")
    )
    t_micro = F.round(
        F.col("dsum")
        * 1000000.0
        / ((n_levels - 1) * F.col("n_grp") * F.col("n_tot"))
    ).cast("bigint")
    return emd.select(
        "c_nationkey",
        "c_mktsegment",
        "n_grp",
        t_micro.alias("t_micro"),
        (t_micro > 200000).alias("at_risk"),
    )


# --------------------------------------------------------------------------
# graph_adamic_adar
# --------------------------------------------------------------------------

_AA_TOPK = 50

_AA_SQL = f"""
    WITH e AS (
      SELECT DISTINCT least(user_id, (user_id * 7 + event_id) % 150) AS a,
             greatest(user_id, (user_id * 7 + event_id) % 150) AS b
      FROM events
      WHERE event_id % 37 = 0
        AND user_id <> (user_id * 7 + event_id) % 150
    ),
    u AS (SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e),
    deg AS (
      SELECT s AS v, CAST(count(*) AS BIGINT) AS deg FROM u GROUP BY 1
    ),
    contrib AS (
      SELECT v,
             CAST(round(1000000000000.0
                        / CAST(round(round(ln(deg), 6) * 1e6) AS BIGINT))
                  AS BIGINT) AS w
      FROM deg WHERE deg >= 2
    ),
    wedge AS (
      SELECT u1.d AS x, u2.d AS z, c.w
      FROM u u1
      JOIN u u2 ON u2.s = u1.s AND u1.d < u2.d
      JOIN contrib c ON c.v = u1.s
    ),
    scored AS (
      SELECT x, z, CAST(sum(w) AS BIGINT) AS aa_micro,
             CAST(count(*) AS BIGINT) AS n_common
      FROM wedge
      GROUP BY 1, 2
    )
    SELECT s.x AS u, s.z AS v, s.n_common, s.aa_micro
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = s.x AND e.b = s.z)
    ORDER BY s.aa_micro DESC, s.x ASC, s.z ASC
    LIMIT {_AA_TOPK}
"""


@register("graph_adamic_adar", oracle=_AA_SQL, tags=("graph", "similarity"))
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the deterministic sparse graph
    shared with graph_triangles (graphq.py:108): for every NON-adjacent
    pair (x, z), sum 1/ln(deg(y)) over common neighbors y, keep the
    top-{_AA_TOPK}. The per-neighbor weight is frozen as
    round(1e12 / iln(deg)) with iln the registry's micro-nat integer log
    (degree >= 2, so iln >= ln 2 in micro-nats and the weight is at most
    ~1.44e12 — BIGINT sums are exact to ~6e6 common neighbors per pair).

    Plan shape: edge list symmetrized once (cached — three consumers),
    degree groupBy, wedge enumeration via one self-join on the CENTER
    vertex (x < z halves the pair space), partial-agg sum per pair, an
    existing-edge anti-join, and a TakeOrderedAndProject top-k — no
    global sort materializes. At 100 TB the wedge join is the standard
    hub-skew hazard: cap or salt max-degree centers (the graph here is
    degree-bounded by construction; the cap is documented, not needed).
    Reference: extension (no graph surface in task.ts)."""
    ev = load_table(spark, sf_dir, "events")
    # shared derivation (operators/eventgraph.py) — same graph as
    # graph_triangles / graph_harmonic_centrality by construction
    e = deterministic_event_edges(ev).localCheckpoint()
    u = symmetrize(e)
    deg = u.groupBy(F.col("s").alias("v")).agg(F.count("*").cast("bigint").alias("deg"))
    contrib = deg.filter(F.col("deg") >= 2).select(
        "v", F.round(F.lit(1000000000000.0) / iln("deg")).cast("bigint").alias("w")
    )
    u1 = u.alias("u1")
    u2 = u.alias("u2")
    wedge = (
        u1.join(u2, (F.col("u2.s") == F.col("u1.s")) & (F.col("u1.d") < F.col("u2.d")))
        .join(contrib, F.col("v") == F.col("u1.s"))
        .select(F.col("u1.d").alias("x"), F.col("u2.d").alias("z"), "w")
    )
    scored = wedge.groupBy("x", "z").agg(
        F.sum("w").cast("bigint").alias("aa_micro"),
        F.count("*").cast("bigint").alias("n_common"),
    )
    open_pairs = scored.join(
        e, (scored.x == e.a) & (scored.z == e.b), "left_anti"
    )
    return (
        open_pairs.select(
            F.col("x").alias("u"), F.col("z").alias("v"), "n_common", "aa_micro"
        )
        .orderBy(F.desc("aa_micro"), F.asc("u"), F.asc("v"))
        .limit(_AA_TOPK)
    )


# --------------------------------------------------------------------------
# eval_chrf_corpus
# --------------------------------------------------------------------------

_CHRF_SQL = """
    WITH pairs AS (
      SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side, text
      FROM documents
    ),
    g2 AS (
      SELECT pair_id, side, substring(text, i, 2) AS g,
             CAST(count(*) AS BIGINT) AS c
      FROM (SELECT pair_id, side, text,
                   unnest(generate_series(1, len(text) - 1)) AS i
            FROM pairs WHERE len(text) >= 2)
      GROUP BY 1, 2, 3
    ),
    g3 AS (
      SELECT pair_id, side, substring(text, i, 3) AS g,
             CAST(count(*) AS BIGINT) AS c
      FROM (SELECT pair_id, side, text,
                   unnest(generate_series(1, len(text) - 2)) AS i
            FROM pairs WHERE len(text) >= 3)
      GROUP BY 1, 2, 3
    ),
    c2 AS (
      SELECT CAST(sum(least(h.c, coalesce(r.c, 0))) AS BIGINT) AS m,
             CAST(sum(h.c) AS BIGINT) AS h
      FROM (SELECT * FROM g2 WHERE side = 1) h
      LEFT JOIN (SELECT * FROM g2 WHERE side = 0) r
        ON r.pair_id = h.pair_id AND r.g = h.g
    ),
    r2 AS (SELECT CAST(sum(c) AS BIGINT) AS r FROM g2 WHERE side = 0),
    c3 AS (
      SELECT CAST(sum(least(h.c, coalesce(r.c, 0))) AS BIGINT) AS m,
             CAST(sum(h.c) AS BIGINT) AS h
      FROM (SELECT * FROM g3 WHERE side = 1) h
      LEFT JOIN (SELECT * FROM g3 WHERE side = 0) r
        ON r.pair_id = h.pair_id AND r.g = h.g
    ),
    r3 AS (SELECT CAST(sum(c) AS BIGINT) AS r FROM g3 WHERE side = 0)
    SELECT c2.m AS match2, c2.h AS hyp2, r2.r AS ref2,
           CAST(round(c2.m * 5000000.0 / (4 * r2.r + c2.h)) AS BIGINT)
             AS chrf2_2_micro,
           c3.m AS match3, c3.h AS hyp3, r3.r AS ref3,
           CAST(round(c3.m * 5000000.0 / (4 * r3.r + c3.h)) AS BIGINT)
             AS chrf2_3_micro,
           CAST(round((CAST(round(c2.m * 5000000.0 / (4 * r2.r + c2.h))
                            AS BIGINT)
                       + CAST(round(c3.m * 5000000.0 / (4 * r3.r + c3.h))
                              AS BIGINT)) / 2.0) AS BIGINT) AS chrf2_micro
    FROM c2, r2, c3, r3
"""


@register("eval_chrf_corpus", oracle=_CHRF_SQL, tags=("eval", "llm", "text"))
def eval_chrf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level chrF2 between paired documents (even doc_id =
    reference, odd = hypothesis): clipped character 2-gram and 3-gram
    overlap with beta=2. The F-score algebra collapses exactly —
    F2 = (1+4)PR / (4P+R) with P=m/h, R=m/r reduces to 5m/(4r+h) — so
    each order needs ONE rounded scalar division of integer counts and
    the output row is cross-engine exact (companion to eval_bleu_corpus,
    wave8c.py, which works in log space; chrF needs no logs at all).

    Plan shape: substring explode (flatMap, no shuffle) -> per-(pair,
    side, gram) counts (partial agg) -> hyp-vs-ref LEFT join keyed
    (pair_id, gram) — near-unique key, no skew — -> single-row fold.
    The char-gram explode is ~|text| rows per doc; at 100 TB that is the
    dominant-but-embarrassingly-parallel stage, and the first groupBy
    collapses it map-side before any shuffle."""
    d = load_table(spark, sf_dir, "documents")
    # widen_narrow_scan (round 11): a single small parquet file arrives
    # as ONE partition, which serializes the ~1000x char-gram explode
    # onto one core (observed single-task stages) — the shingle-explode
    # hazard widen_narrow_scan exists for.
    pairs = widen_narrow_scan(d).select(
        F.expr("doc_id div 2").alias("pair_id"),
        (F.col("doc_id") % 2).alias("side"),
        F.col("text"),
    )

    # r16: BOTH gram orders in one keyed pipeline. The 2-gram and 3-gram
    # legs were two near-identical chains (scan+explode -> (pair, side,
    # gram) aggregate -> hyp-vs-ref join -> fold) that only met at the
    # final crossJoin; tagging every gram row with its order n fuses
    # them into ONE explode, ONE aggregate, ONE (pair_id, n, g) join and
    # ONE per-n fold — same row volume, half the stages (the r15 note
    # considered merging only the scans; the agg+join chains dominate).
    # Counts are identical per (pair, side, n, gram) key, so every
    # downstream integer is unchanged.
    grams = (
        pairs.filter(F.length("text") >= 2)
        .select(
            "pair_id",
            "side",
            F.explode(
                F.expr(
                    "flatten(transform(array(2, 3), n -> CASE"
                    " WHEN length(text) >= n THEN"
                    " transform(sequence(1, length(text) - n + 1),"
                    " i -> struct(n AS n, substring(text, i, n) AS g))"
                    " ELSE array() END))"
                )
            ).alias("ng"),
        )
        .select("pair_id", "side", F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
        .groupBy("pair_id", "side", "n", "g")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    h = grams.filter(F.col("side") == 1).select(
        "pair_id", "n", "g", F.col("c").alias("hc")
    )
    r = grams.filter(F.col("side") == 0).select(
        "pair_id", "n", "g", F.col("c").alias("rc")
    )
    clip = h.join(r, ["pair_id", "n", "g"], "left").groupBy("n").agg(
        F.sum(F.least(F.col("hc"), F.coalesce(F.col("rc"), F.lit(0))))
        .cast("bigint")
        .alias("m"),
        F.sum("hc").cast("bigint").alias("h"),
    )
    reftot = r.groupBy("n").agg(F.sum("rc").cast("bigint").alias("r"))
    # left: an order no reference reaches keeps its hypothesis total
    folded = clip.join(reftot, "n", "left")
    # pivot the 2-row (n, m, h, r) fold to one row WITHOUT filtering the
    # subtree twice (two filters = two executions of the whole pipeline)
    pick = lambda n, c: F.max(F.when(F.col("n") == n, F.col(c)))  # noqa: E731
    wide = folded.agg(
        pick(2, "m").alias("match2"),
        pick(2, "h").alias("hyp2"),
        pick(2, "r").alias("ref2"),
        pick(3, "m").alias("match3"),
        pick(3, "h").alias("hyp3"),
        pick(3, "r").alias("ref3"),
    )
    s2 = F.round(F.col("match2") * 5000000.0 / (4 * F.col("ref2") + F.col("hyp2"))).cast(
        "bigint"
    )
    s3 = F.round(F.col("match3") * 5000000.0 / (4 * F.col("ref3") + F.col("hyp3"))).cast(
        "bigint"
    )
    return wide.select(
        "match2",
        "hyp2",
        "ref2",
        s2.alias("chrf2_2_micro"),
        "match3",
        "hyp3",
        "ref3",
        s3.alias("chrf2_3_micro"),
        F.round((s2 + s3) / 2.0).cast("bigint").alias("chrf2_micro"),
    )


# --------------------------------------------------------------------------
# analytics_skyline
# --------------------------------------------------------------------------

_SKYLINE_SQL = """
    WITH pts AS (
      SELECT p_retailprice AS price, p_size AS sz,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(min(p_partkey) AS BIGINT) AS min_partkey
      FROM part
      GROUP BY 1, 2
    )
    SELECT price, sz AS size, n_parts, min_partkey
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.price <= p.price AND q.sz >= p.sz
        AND (q.price < p.price OR q.sz > p.sz)
    )
"""


@register("analytics_skyline", oracle=_SKYLINE_SQL, tags=("analytics", "window"))
def analytics_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (pareto front): the parts that are not dominated under
    (minimize price, maximize size) — q dominates p iff q.price <= p.price
    AND q.size >= p.size with one strict. Points are first collapsed to
    DISTINCT (price, size) cells (with member count and min key), then
    the skyline falls out of ONE cumulative-max sweep: ordered by price
    asc, size desc, a cell survives iff max(size) over all preceding
    cells is strictly below its own — preceding cells have price <= p,
    and among distinct cells any preceding size >= s dominates. The hash
    match against the quadratic NOT EXISTS oracle certifies the sweep
    against the declarative dominance definition.

    Plan shape: groupBy collapse (fact-scale, partial agg), then the
    cumulative-max sweep runs DISTRIBUTED via the range-partitioned
    prefix construction (operators/prefix.py prevmax_cols): cells are
    range-shuffled on (price asc, sz desc), each partition computes its
    local EXCLUSIVE running max, and an O(P) per-partition-maxima
    collect becomes a broadcast prefix-max offset map — the same values
    the single global window would produce, with no unpartitioned
    WindowExec at any cell-domain density. The hash match against the
    quadratic NOT EXISTS oracle certifies the distributed sweep against
    the declarative dominance definition."""
    p = load_table(spark, sf_dir, "part")
    pts = p.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("sz")
    ).agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.min("p_partkey").cast("bigint").alias("min_partkey"),
    )
    swept = with_global_order(
        pts,
        [F.col("price").asc(), F.col("sz").desc()],
        prevmax_cols={"prev_max": "sz"},
    )
    return swept.filter(
        F.col("prev_max").isNull() | (F.col("prev_max") < F.col("sz"))
    ).select("price", F.col("sz").alias("size"), "n_parts", "min_partkey")
