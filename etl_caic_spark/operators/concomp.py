"""Connected components — the engine's one CC operator: a driver
union-find below a size gate, distributed star contraction + pointer
doubling above it (consumers: graph_connected_components plans/wave9c.py,
dedup_cluster_canonical plans/wave9d.py, dedup_semantic_embedding
plans/wave11b.py, geo_dbscan_core plans/warehouseq.py, and via
dedup_groups below the dedup_groups, corpus_curation_pipeline and
link_entity_resolution queries).

Plain hash-min label propagation needs DIAMETER rounds (13 on the
sf0.1 event graph — probed; the classic CC scale trap). This operator
contracts the edge frame by the current labels every round and runs
min-label over the CONTRACTED graph, the star-contraction scheme of
the Shiloach-Vishkin / "Connected Components in MapReduce" family —
and, critically, SHORTCUTS the per-round relabel map to its fixpoint
by pointer doubling before applying it. Without the shortcut a min
step on a path graph moves every label by exactly one hop
(newlabel(v) = v-1), so convergence is linear in the chain length — a
200-node path needs 199 rounds, and duplicate chains A~B~C~... are
exactly the motif dedup clustering exists for. With doubling the
relabel map (rep -> newlabel, strictly DECREASING along pointers, so
an acyclic forest) collapses a length-L chain in ceil(log2 L)
self-compositions: map := map(map) squares the jump distance each
iteration. Every relabel join runs at REPRESENTATIVE scale (the map
has one row per live label, shrinking every round), never edge scale.

Convergence is detected, not assumed: the outer loop stops when the
contracted edge set is empty and the inner loop when no pointer moved
(one-row take(1) per iteration — the same bounded-collect class as
ml_logreg_gd's gradient step). Both caps are backed by geometric
decay (doubling covers 2^64-length chains in 64 jumps; a fully
shortcut min round at least halves the live-component-graph diameter)
and both raise RuntimeError instead of returning silently if ever
exhausted — a wrong-labels return is never an option
(tests/test_prefix_property.py pins a 220-node path against
union-find, the exact regime the unshortcut form could not converge
on). lab/carcs/map localCheckpoint per round — the iterative-plan
lineage discipline shared with graph_hits (plans/wave8c.py).

Every checkpoint here is wrapped in util.strip_plan_stats: checkpoints
carry the origin plan's Catalyst sizeInBytes into the new LogicalRDD,
and the doubling SELF-join then squares that statistic every iteration
— the BigInteger's bit length doubles per jump and Catalyst planning
itself becomes the bottleneck (minutes of driver CPU inside
BigInteger.multiplyToomCook3, found by jstack when the 600k-node chain
probe's rounds grew 2 s -> 84 s on constant-size frames). Stripping
the carried stats pins the estimate at defaultSizeInBytes; AQE still
re-plans every join from true runtime sizes, so execution strategy is
unchanged (probed: identical results, chain rounds back to constant
cost).

Build cost: below the size gate (connected_components'
driver_edge_cutoff) the build is one bounded ``limit(cutoff + 1)
.toArrow()`` fetch, a driver union-find, and one Arrow table handed back
as a local relation (driver_union_find_gate): no Row objects, no pandas
frame, no schema probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_caic_spark.util import strip_plan_stats

MAX_ROUNDS = 64
MAX_JUMPS = 64


def _ckpt(df: DataFrame) -> DataFrame:
    """localCheckpoint + carried-stats strip (module docstring)."""
    return strip_plan_stats(df.localCheckpoint())


def _shortcut(replab: DataFrame) -> DataFrame:
    """Pointer-double ``rep -> newlabel`` to its fixpoint: afterwards
    every rep points at the root of its pointer tree (newlabel values
    are all self-mapped). Pointers strictly decrease, so the map is an
    acyclic forest and map := map(map) converges in ceil(log2 L)
    iterations for the longest chain L."""
    for _ in range(MAX_JUMPS):
        m2 = replab.select(
            F.col("rep").alias("r2"), F.col("newlabel").alias("nl2")
        )
        jumped = (
            replab.join(m2, replab["newlabel"] == m2["r2"], "left")
            .select(
                "rep",
                F.coalesce("nl2", "newlabel").alias("newlabel"),
                (
                    F.col("nl2").isNotNull()
                    & (F.col("nl2") != F.col("newlabel"))
                ).alias("_moved"),
            )
        )
        jumped = _ckpt(jumped)
        replab = jumped.select("rep", "newlabel")
        if not jumped.where("_moved").take(1):  # fixpoint: all roots
            return replab
    raise RuntimeError(
        f"connected_components: relabel map did not reach fixpoint in "
        f"{MAX_JUMPS} pointer-doubling jumps (covers chains of length "
        f"2^{MAX_JUMPS}) — pointer cycle, which the strictly-decreasing "
        f"min construction should make impossible"
    )


def connected_components(
    edges: DataFrame, driver_edge_cutoff: int = 1_000_000
) -> DataFrame:
    """edges(a, b) undirected -> (v, component) for every endpoint, where
    component is the MINIMUM node id reachable from v (the canonical
    representative). Edges may repeat, come in either orientation, or be
    self-loops (a == b): the union-find absorbs them, and the loop
    symmetrizes each round's edges and its contraction (``ns != nd``,
    distinct) drops self-loops and duplicates after the first round.

    Size-gated hybrid: when the raw edge list has at most
    ``driver_edge_cutoff`` rows (1M pairs ≈ 16 MB of longs in Arrow
    buffers, trivially driver-resident), ONE bounded
    ``limit(cutoff+1).toArrow()`` fetch feeds a driver union-find
    (module docstring, "Build cost") and the star-contraction loop's
    per-round fixed cost (per round: a take(1) convergence probe, a
    contraction join chain, plus per-jump checkpoint + take(1) inside
    the pointer-doubling shortcut — a dozen serial blocking jobs for a
    duplicate-clique graph) never runs. Above the cutoff — the regime a
    100 TB corpus's candidate pairs land in — the distributed loop below
    runs, and the probe cost is one short-circuited scan of cutoff+1
    rows. Output identical by construction: same (v, component = min
    reachable id) rows. ``driver_edge_cutoff=0`` forces the distributed
    path (tests)."""
    if driver_edge_cutoff > 0:
        small = driver_union_find_gate(
            edges, "a", "b", driver_edge_cutoff, ("v", "component")
        )
        if small is not None:
            return small
    lab = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .distinct()
        .select("v", F.col("v").alias("label"))
    )
    lab = _ckpt(lab)
    carcs = _ckpt(edges.select(F.col("a").alias("s"), F.col("b").alias("d")))
    for _ in range(MAX_ROUNDS):
        if not carcs.take(1):  # fixpoint: no edges between distinct labels
            return lab.select("v", F.col("label").alias("component"))
        sym = carcs.unionAll(
            carcs.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        nbmin = sym.groupBy(F.col("s").alias("rep")).agg(F.min("d").alias("mn"))
        reps = lab.select(F.col("label").alias("rep")).distinct()
        replab = reps.join(nbmin, "rep", "left").select(
            "rep",
            F.least(F.col("rep"), F.coalesce(F.col("mn"), F.col("rep"))).alias(
                "newlabel"
            ),
        )
        replab = _shortcut(replab)
        lab = (
            lab.join(replab, lab.label == replab.rep)
            .select("v", F.col("newlabel").alias("label"))
        )
        lab = _ckpt(lab)
        ra = replab.select(F.col("rep").alias("s"), F.col("newlabel").alias("ns"))
        rb = replab.select(F.col("rep").alias("d"), F.col("newlabel").alias("nd"))
        carcs = (
            carcs.join(ra, "s")
            .join(rb, "d")
            .filter(F.col("ns") != F.col("nd"))
            .select(F.col("ns").alias("s"), F.col("nd").alias("d"))
            .distinct()
        )
        carcs = _ckpt(carcs)
    raise RuntimeError(
        f"connected_components: contracted edge frame still non-empty "
        f"after {MAX_ROUNDS} rounds — returning partial labels is never "
        f"an option"
    )


def driver_union_find_gate(
    edges: DataFrame, a: str, b: str, cutoff: int, names: tuple[str, str]
) -> DataFrame | None:
    """The driver side of the size-gated connected_components. ONE
    bounded fetch, ``limit(cutoff + 1).toArrow()`` of the raw (a, b)
    endpoints: more than ``cutoff`` rows returns None (the caller runs
    its distributed loop); otherwise a driver union-find labels every
    endpoint and the result is ONE Arrow table → DataFrame with columns
    ``names`` = (vertex, component).

    The endpoints are fetched as ``array(a, b)``, so Spark widens them to
    their common type exactly as the distributed path's endpoint union
    does (int and bigint endpoints label as bigint — r13 ADVICE), and
    that post-union type is read off the Arrow schema: no schema probe. A cutoff of 1M edges is ≈ 16 MB of longs in Arrow
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
    vertex id, matching the distributed loop's output exactly (same
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
    component of pairs(doc_a, doc_b); singletons keep themselves."""
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    joined = df.join(comp, df[id_col] == comp["v"], "left")
    return joined.select(
        df[id_col],
        F.coalesce("component", df[id_col]).alias("group_id"),
    ).withColumn("is_representative", F.col(id_col) == F.col("group_id"))
