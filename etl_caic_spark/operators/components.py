"""Connected components over near-duplicate pairs — turns pairwise
near-dup evidence into dedup GROUPS (every transitive cluster keeps one
representative), the step after minhash/jaccard in a real corpus dedup.

Iterative min-label propagation as pure DataFrame joins:
  label(v) ← min(label(v), min over neighbors u of label(u))
followed by one pointer-jumping shortcut per iteration
  label(v) ← label(label(v))
until fixpoint. Each iteration is one join + aggregate + one shortcut
join (shuffles on the vertex id); lineage is cut with localCheckpoint
every iteration so the plan doesn't grow exponentially. The shortcut
halves the remaining chain depth each pass, so iterations needed are
O(log diameter), not O(diameter) — a 10-iteration budget covers chains
of length ~2^10. Hitting max_iter without a fixpoint raises instead of
silently returning partial labels.

At 100 TB this is the standard large-star/small-star regime; near-dup
components are shallow (chains are rare, cliques common), so the typical
run converges in 2-3 iterations."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_caic_spark.util import strip_plan_stats


def connected_components(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_iter: int = 10,
    driver_edge_cutoff: int = 1_000_000,
) -> DataFrame:
    """pairs(left, right) → (member, component) where component is the
    minimum vertex id in the connected component.

    Size-gated hybrid: when the RAW pair list has at most
    ``driver_edge_cutoff`` rows (default 1M pairs ≈ 16 MB of longs,
    trivially driver-resident), a single-pass union-find on the driver
    replaces the O(log diameter) join rounds, whose per-iteration fixed
    cost (2 joins + agg + checkpoint + convergence count) dominates for
    the small edge sets that near-dup thresholds typically produce. The
    gate and the small-regime fetch are ONE bounded Arrow fetch over the
    pairs plan ALONE (driver_union_find_gate) — union-find is
    insensitive to duplicate/asymmetric edges, so the raw pairs ARE the
    input and the small regime never runs the symmetrize-union +
    distinct shuffle at all (r12: sequential blocking jobs made
    corpus_curation_pipeline the most host-steal-sensitive query in the
    fleet; r13 ADVICE: probing the unioned-distinct plan made large
    graphs pay the distinct twice). Gating on raw pairs is conservative
    — a heavily duplicated pair list can exceed the cutoff while its
    distinct edge set would fit — which only sends borderline inputs to
    the distributed path. Above the cutoff — the regime a 100 TB corpus
    with billions of candidate pairs lands in — the probe
    short-circuits at cutoff+1 raw rows (no shuffle executed; the pairs
    plan's scanned partitions are re-evaluated once more by the
    checkpoint below), the symmetrized-distinct edge set is built and
    checkpointed exactly once, and the distributed min-label +
    pointer-jumping loop below runs unchanged. ``driver_edge_cutoff=0``
    forces the distributed path (used by tests to pin its semantics)."""
    if driver_edge_cutoff > 0:
        small = driver_union_find_gate(
            pairs, left_col, right_col, driver_edge_cutoff, ("member", "component")
        )
        if small is not None:
            return small
    edges_plan = (
        pairs.select(F.col(left_col).alias("src"), F.col(right_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(right_col).alias("src"), F.col(left_col).alias("dst"))
        )
        .distinct()
    )
    edges = edges_plan.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("component", F.col("v"))
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        # Carry the pre-update label through the projection so convergence
        # is a filter on the already-checkpointed result — no extra
        # old-vs-new join (one fewer shuffle per iteration).
        propagated = labels.join(
            neighbor_min, labels["v"] == neighbor_min["src"], "left"
        ).select(
            "v",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )
        # Pointer-jumping shortcut: component ← component(component). Every
        # label IS a vertex id, so the self-lookup resolves; the left join
        # + coalesce keeps roots (label == self) untouched.
        parents = propagated.select(
            F.col("v").alias("_p_v"), F.col("component").alias("_p_comp")
        )
        updated = (
            propagated.join(
                parents, propagated["component"] == parents["_p_v"], "left"
            )
            .select(
                "v",
                "_old",
                F.coalesce("_p_comp", "component").alias("component"),
            )
            .localCheckpoint()
        )
        # The pointer-jumping step above joins the label frame with
        # ITSELF, so the checkpoint-carried Catalyst sizeInBytes would
        # SQUARE every iteration (bit length doubles -> BigInteger
        # planning cost explodes; see util.strip_plan_stats /
        # operators/concomp.py for the full root-cause).
        updated = strip_plan_stats(updated)
        changed = (
            updated.filter(F.col("_old") != F.col("component")).limit(1).count()
        )
        labels = updated.select("v", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(component diameter > 2^max_iter?); raise max_iter"
        )
    return labels.select(F.col("v").alias("member"), "component")


def driver_union_find_gate(
    edges: DataFrame, a: str, b: str, cutoff: int, names: tuple[str, str]
) -> DataFrame | None:
    """The driver side of both size-gated CC operators (this module and
    operators/concomp.py). ONE bounded fetch, ``limit(cutoff + 1)
    .toArrow()`` of the raw (a, b) endpoints: more than ``cutoff`` rows
    returns None (the caller runs its distributed loop); otherwise a
    driver union-find labels every endpoint and the result is ONE Arrow
    table → DataFrame with columns ``names`` = (vertex, component).

    The endpoints are fetched as ``array(a, b)``, so Spark widens them to
    their common type exactly as the distributed path's endpoint union
    does (int and bigint endpoints label as bigint — components.py r13
    ADVICE), and that post-union type is read off the Arrow schema:
    no schema probe. A cutoff of 1M edges is ≈ 16 MB of longs in Arrow
    buffers, not Python Row objects.

    Why not count first and fetch only below the cutoff: below the
    cutoff — the common case — that evaluates the pairs plan twice (a
    count job, then the fetch). The single fetch runs one job either
    way; above the cutoff it stops at cutoff + 1 rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import from_arrow_type

    probe = edges.selectExpr(f"array(`{a}`, `{b}`) AS e").limit(cutoff + 1).toArrow()
    if probe.num_rows > cutoff:
        return None
    atype = probe.schema.field("e").type.value_type
    ends = pc.list_flatten(probe.column("e")).to_pylist()
    members, comps = _driver_union_find(ends[0::2], ends[1::2])
    vtype = from_arrow_type(atype)
    schema = T.StructType(
        [T.StructField(names[0], vtype, True), T.StructField(names[1], vtype, True)]
    )
    table = pa.table(
        [pa.array(members, atype), pa.array(comps, atype)], names=list(names)
    )
    return edges.sparkSession.createDataFrame(table, schema)


def _driver_union_find(srcs: list, dsts: list) -> tuple[list, list]:
    """Min-root union-find over a bounded edge list — duplicates,
    self-loops, and asymmetric orientation are all absorbed by the union,
    so raw pairs need no distinct/symmetrize pre-pass. Path-halving +
    union-by-min keeps the root of every tree at the component's minimum
    vertex id, matching the distributed loops' output exactly (same
    (vertex, component) rows, component = min id). Returns the vertex and
    component columns."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(srcs, dsts):  # bounded by the gate's cutoff
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            # union by min so the surviving root is the smaller id
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    members = list(parent)
    return members, [find(v) for v in members]


def dedup_groups(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Keep one representative (the min id) per connected near-dup
    component; singletons keep themselves."""
    comp = connected_components(pairs)
    joined = df.join(comp, df[id_col] == comp["member"], "left")
    return joined.select(
        df[id_col],
        F.coalesce("component", df[id_col]).alias("group_id"),
    ).withColumn("is_representative", F.col(id_col) == F.col("group_id"))
