"""Round-9 wave A: Kendall's tau by grid-blocked exact discordance
counting, and the Kruskal-Wallis rank ANOVA computed entirely from a
value histogram.

Both fill rank-statistic gaps (the registry had Spearman, Mann-Whitney
and the KS family but neither of these classics) and both are built so
the RANK step never becomes a global bottleneck:

- ``stat_kendall_tau``: tau-a over the frozen (value, custkey) total
  order. The textbook computation is O(n^2) pairs or a sequential
  merge-sort inversion count; here discordant pairs are counted EXACTLY
  with a rank-grid decomposition: both rank axes are cut into B
  equal-width blocks, pairs in different blocks on BOTH axes are
  decided purely by their block ids (a BxB contingency matrix — one
  tiny groupBy — since bx_a < bx_b implies rx_a < rx_b), and only pairs
  sharing a block row/column survive to an EQUI-join on the block id
  (~n^2/B comparisons, balanced by construction because blocks are
  rank-quantiles). With B ~ sqrt(n) the work is ~n^1.5 fully
  partitioned — no all-pairs join and no global window (ranks come from
  operators/prefix.py). The O(n^2) DuckDB oracle certifies the
  decomposition.
- ``stat_kruskal_wallis``: H over a bounded value domain needs NO row
  ranks at all — midranks are a closed form of the (group, value)
  histogram: avg_rank(v) = cnt_less(v) + (cnt(v)+1)/2, kept integer by
  the 2x scaling R2(v) = 2*cnt_less(v) + cnt(v) + 1. The fact table is
  touched by ONE map-side-combinable groupBy; everything after runs on
  a <= |domain| x |groups| frame (continuous measures would bin first —
  the same posture as stat_ks_binned). The tie-corrected H is published
  in micro-units from one fixed-order scalar expression over exact
  BIGINT moments (products of two exactly-representable ints stay
  bit-identical across engines).

Reference parity: the reference (task.ts:88-189) has no statistics
surface — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.operators.prefix import with_global_order
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table

# --------------------------------------------------------------------------
# stat_kendall_tau
# --------------------------------------------------------------------------

_KT_BLOCKS = 16  # FLOOR for the adaptive block count B ~ sqrt(n)
_KT_BLOCK_CAP = 65536  # binds only past ~4e9 rank rows (cap^2); a plan
# knob to raise with the cluster, never an answer knob


def _kt_pick_blocks(n: int) -> int:
    """B ~ sqrt(n), power of two, floor {_KT_BLOCKS}, cap
    {_KT_BLOCK_CAP}: the same-block joins do n^2/B ~ n^1.5 comparisons
    and the dense D1 lattice is B^2 ~ 2n rows — both scale with the
    data, no quadratic tail (unit-tested in tests/test_wave10.py so the
    knob's contract is pinned, not narrated)."""
    return min(_KT_BLOCK_CAP, max(_KT_BLOCKS, 1 << max(0, (n.bit_length() + 1) // 2)))

_KENDALL_SQL = """
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    base AS (
      SELECT c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
             rev_cents
      FROM customer JOIN rev ON o_custkey = c_custkey
    ),
    d AS (
      SELECT CAST(count(*) AS BIGINT) AS n_discordant
      FROM base a JOIN base b
        ON (a.bal_cents < b.bal_cents
            OR (a.bal_cents = b.bal_cents AND a.c_custkey < b.c_custkey))
       AND (a.rev_cents > b.rev_cents
            OR (a.rev_cents = b.rev_cents AND a.c_custkey > b.c_custkey))
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
    SELECT n, n_discordant,
           CAST(round((n * (n - 1) - 4 * n_discordant) * 1000000.0
                      / (n * (n - 1))) AS BIGINT) AS tau_micro
    FROM n, d
"""


@register("stat_kendall_tau", oracle=_KENDALL_SQL, tags=("stats", "scale"))
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-a between a customer's account balance and realized
    revenue, over the frozen (value, custkey) total order (no rank ties
    by construction — same convention as stat_spearman): tau = 1 -
    4*D/(n(n-1)) where D counts the pairs the two orders disagree on.

    D is counted exactly with the rank-grid decomposition (module
    docstring): ranks via the range-partitioned prefix construction,
    block ids bx/by = floor((rank-1)*B/n), then
      D1: cross-block-on-both-axes pairs from the BxB cell-count matrix
          (bx_a < bx_b AND by_a > by_b decides discordance outright);
      D2: same-bx pairs via an equi-join on bx;
      D3: same-by, different-bx pairs via an equi-join on by.
    The three classes are disjoint and exhaustive, every join is an
    equi-join on a block id, and the per-block pair work is n^2/B —
    balanced because blocks are rank-quantiles, immune to value skew.
    B adapts to ~sqrt(n) (power of two, floor 16; one bounded single-row
    count fixes it before planning — B only changes the plan, never the
    answer, since the oracle is the O(n^2) declarative definition with
    no blocks at all). The wave-9 scale probe (SCALE.md) measured why: at
    30x fixture scale the same-block join ran 32.9 s with B=16 frozen but
    5.6 s at B=64 and 2.4 s at B=256 — the n^2/B term is THE knob.
    `tools/scale_probe.py stat_kendall_tau` times the adaptive form."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents")
    )
    base = rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey).select(
        "c_custkey", "bal_cents", "rev_cents"
    )
    rx = with_global_order(base, ["bal_cents", "c_custkey"], rn_col="rx")
    ranked = with_global_order(rx, ["rev_cents", "c_custkey"], rn_col="ry").select(
        "rx", "ry"
    )
    # one checkpoint: the blocked frame feeds four consumers (cells, D2,
    # D3 twice via aliases) — without it each would re-run both prefix
    # ranks. The count() it enables is also what sizes B ~ sqrt(n).
    ranked = ranked.localCheckpoint()
    n_val = ranked.count()  # bounded collect: one scalar
    # B ~ sqrt(n) (power of two, floor 16): the same-block joins do
    # n^2/B ~ n^1.5 comparisons and the dense D1 lattice is B^2 ~ 2n
    # rows — BOTH scale with the data, no quadratic tail. The 65536 cap
    # only bounds the lattice for n beyond ~4e9 rank rows (past it the
    # same-block term grows toward n^2/cap — raise the cap with the
    # cluster, it is a plan knob, never an answer knob).
    blocks = _kt_pick_blocks(n_val)
    n_row = ranked.agg(F.count("*").cast("bigint").alias("n"))
    blocked = (
        ranked.crossJoin(F.broadcast(n_row))
        .select(
            "rx",
            "ry",
            # integer div — a double division could land an exact block
            # boundary on x.9999... and mis-bucket one row
            F.expr(f"((rx - 1) * {blocks}) div n").alias("bx"),
            F.expr(f"((ry - 1) * {blocks}) div n").alias("by"),
        )
        .localCheckpoint()
    )
    # D1 over the BxB cell matrix in O(B^2) via two PARTITIONED
    # cumulative sums on the DENSE lattice — a pairwise cell join would
    # be B^4 comparisons, which the adaptive B turns into the dominant
    # cost (measured: a B=512 cell cross-join stalled the 100x probe;
    # this form runs it in seconds). The lattice densification matters:
    # cumulative reads at (bx', by) must exist even when no point
    # landed in that exact cell.
    #   colcum(bx, by) = # points in column bx strictly BELOW row by
    #   t(bx, by)      = # points with bx' > bx AND by' < by
    #                  = suffix-over-bx sum of colcum at this by
    #   D1             = sum over cells of cnt * t
    cells = blocked.groupBy("bx", "by").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    lat = (
        spark.range(blocks)
        .select(F.col("id").alias("bx"))
        .crossJoin(spark.range(blocks).select(F.col("id").alias("by")))
    )
    dense = lat.join(cells, ["bx", "by"], "left").select(
        "bx", "by", F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt")
    )
    w_col = (
        Window.partitionBy("bx")
        .orderBy("by")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    colcum = dense.withColumn(
        "below", F.coalesce(F.sum("cnt").over(w_col), F.lit(0)).cast("bigint")
    )
    w_suf = (
        Window.partitionBy("by")
        .orderBy(F.desc("bx"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t_cell = colcum.withColumn(
        "t", F.coalesce(F.sum("below").over(w_suf), F.lit(0)).cast("bigint")
    )
    d1 = t_cell.agg(
        F.coalesce(F.sum(F.col("cnt") * F.col("t")), F.lit(0))
        .cast("bigint")
        .alias("d1")
    )
    ra, rb = blocked.alias("ra"), blocked.alias("rb")
    discord = (F.col("ra.rx") < F.col("rb.rx")) & (F.col("ra.ry") > F.col("rb.ry"))
    d2 = ra.join(rb, (F.col("ra.bx") == F.col("rb.bx")) & discord).agg(
        F.count("*").cast("bigint").alias("d2")
    )
    d3 = ra.join(
        rb,
        (F.col("ra.by") == F.col("rb.by"))
        & (F.col("ra.bx") != F.col("rb.bx"))
        & discord,
    ).agg(F.count("*").cast("bigint").alias("d3"))
    return (
        n_row.crossJoin(d1)
        .crossJoin(d2)
        .crossJoin(d3)
        .select(
            "n",
            (F.col("d1") + F.col("d2") + F.col("d3"))
            .cast("bigint")
            .alias("n_discordant"),
            F.round(
                (
                    F.col("n") * (F.col("n") - 1)
                    - 4 * (F.col("d1") + F.col("d2") + F.col("d3"))
                )
                * 1000000.0
                / (F.col("n") * (F.col("n") - 1))
            )
            .cast("bigint")
            .alias("tau_micro"),
        )
    )


# --------------------------------------------------------------------------
# stat_kruskal_wallis
# --------------------------------------------------------------------------

_KW_SQL = """
    WITH obs AS (
      SELECT l_returnflag AS grp, CAST(round(l_quantity) AS BIGINT) AS v
      FROM lineitem
    ),
    hist AS (
      SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY 1, 2
    ),
    vh AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM hist GROUP BY 1),
    -- exact doubled midrank per value: R2(v) = 2*cnt_less(v) + t(v) + 1
    vr AS (
      SELECT a.v, a.t,
             CAST(2 * coalesce(sum(b.t), 0) + a.t + 1 AS BIGINT) AS r2
      FROM vh a LEFT JOIN vh b ON b.v < a.v
      GROUP BY a.v, a.t
    ),
    g AS (
      SELECT h.grp,
             CAST(sum(h.c) AS BIGINT) AS n_i,
             CAST(sum(h.c * vr.r2) AS BIGINT) AS s2_i
      FROM hist h JOIN vr ON vr.v = h.v
      GROUP BY 1
    ),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3 FROM vh
    ),
    -- pivot the three pinned groups onto ONE row so the float sum of
    -- the per-group terms has a FIXED left-to-right order (A + N + R):
    -- a grouped float SUM would add in engine/scan order and the two
    -- engines could differ by an ulp
    piv AS (
      SELECT CAST(sum(n_i) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN grp = 'A' THEN s2_i ELSE 0 END) AS BIGINT) AS s2a,
             CAST(sum(CASE WHEN grp = 'A' THEN n_i ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN grp = 'N' THEN s2_i ELSE 0 END) AS BIGINT) AS s2n,
             CAST(sum(CASE WHEN grp = 'N' THEN n_i ELSE 0 END) AS BIGINT) AS nn,
             CAST(sum(CASE WHEN grp = 'R' THEN s2_i ELSE 0 END) AS BIGINT) AS s2r,
             CAST(sum(CASE WHEN grp = 'R' THEN n_i ELSE 0 END) AS BIGINT) AS nr
      FROM g
    ),
    hstat AS (
      SELECT n, n_groups, tie3,
             (12.0 * (CAST(s2a AS DOUBLE) * CAST(s2a AS DOUBLE) / (4.0 * na)
                      + CAST(s2n AS DOUBLE) * CAST(s2n AS DOUBLE) / (4.0 * nn)
                      + CAST(s2r AS DOUBLE) * CAST(s2r AS DOUBLE) / (4.0 * nr))
              / (CAST(n AS DOUBLE) * (n + 1.0)) - 3.0 * (n + 1.0)) AS h
      FROM piv, ties
    )
    SELECT n, n_groups, tie3,
           CAST(round(h * 1000000.0) AS BIGINT) AS h_micro,
           CAST(round((h / (1.0 - CAST(tie3 AS DOUBLE)
                            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                               * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))))
                      * 1000000.0) AS BIGINT) AS h_tied_micro
    FROM hstat
"""


@register("stat_kruskal_wallis", oracle=_KW_SQL, tags=("stats", "scale"))
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (rank one-way ANOVA) of l_quantity across the
    three l_returnflag groups, with the standard tie correction —
    published in micro-units as both the raw and tie-corrected H.

    No row ever gets a rank: the value domain is bounded (quantities
    1..50), so midranks are a CLOSED FORM of the (group, value)
    histogram — avg_rank(v) = cnt_less(v) + (t_v+1)/2, held integer via
    the doubled form R2(v) = 2*cnt_less(v) + t_v + 1 — and the fact
    scan collapses in one map-side-combinable groupBy to <= 3x50 rows.
    cnt_less comes from a self-join on the 50-row value histogram (not
    a window — nothing here depends on a sort of anything row-scale).
    All moments (n_i, S2_i = sum of doubled midranks per group, the tie
    term sum(t^3-t)) are exact BIGINTs; the three groups are PINNED
    (A/N/R, asserted by the fixture) and pivoted onto one row so H is
    one fixed-order scalar expression over them, identical text on both
    engines (S2_i^2 is computed in DOUBLE — the operands are exactly
    representable, so each product/divide/add rounds identically under
    IEEE on the JVM and in DuckDB; a grouped float SUM would instead
    add in scan order). At 100 TB with a continuous measure you'd bin
    to a fixed grid first, the stat_ks_binned posture."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_quantity")).cast("bigint").alias("v"),
    )
    hist = li.groupBy("grp", "v").agg(F.count("*").cast("bigint").alias("c"))
    vh = hist.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    a, b = vh.alias("a"), vh.alias("b")
    vr = (
        a.join(F.broadcast(b), F.col("b.v") < F.col("a.v"), "left")
        .groupBy(F.col("a.v").alias("v"), F.col("a.t").alias("t"))
        .agg(
            (2 * F.coalesce(F.sum("b.t"), F.lit(0)) + F.col("a.t") + 1)
            .cast("bigint")
            .alias("r2")
        )
    )
    g = (
        hist.join(F.broadcast(vr), "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("bigint").alias("n_i"),
            F.sum(F.col("c") * F.col("r2")).cast("bigint").alias("s2_i"),
        )
    )
    ties = vh.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3")
    )

    def _pick(col: str, grp: str):
        return F.sum(F.when(F.col("grp") == grp, F.col(col)).otherwise(F.lit(0)))

    # pivot the three pinned groups onto ONE row so the float sum of the
    # per-group terms has a FIXED left-to-right order (A + N + R) — a
    # grouped float SUM adds in scan order and could drift an ulp from
    # the oracle
    piv = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_groups"),
        _pick("s2_i", "A").cast("bigint").alias("s2a"),
        _pick("n_i", "A").cast("bigint").alias("na"),
        _pick("s2_i", "N").cast("bigint").alias("s2n"),
        _pick("n_i", "N").cast("bigint").alias("nn"),
        _pick("s2_i", "R").cast("bigint").alias("s2r"),
        _pick("n_i", "R").cast("bigint").alias("nr"),
    )

    def _term(s2: str, ni: str):
        return (F.col(s2).cast("double") * F.col(s2).cast("double")) / (
            F.lit(4.0) * F.col(ni).cast("double")
        )

    h_expr = (
        F.lit(12.0)
        * (_term("s2a", "na") + _term("s2n", "nn") + _term("s2r", "nr"))
        / (F.col("n").cast("double") * (F.col("n") + F.lit(1.0)))
        - F.lit(3.0) * (F.col("n") + F.lit(1.0))
    )
    tie_den = F.lit(1.0) - F.col("tie3").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double") * F.col("n").cast("double")
        - F.col("n").cast("double")
    )
    return piv.crossJoin(ties).select(
        "n",
        "n_groups",
        "tie3",
        F.round(h_expr * 1000000.0).cast("bigint").alias("h_micro"),
        F.round((h_expr / tie_den) * 1000000.0).cast("bigint").alias("h_tied_micro"),
    )
