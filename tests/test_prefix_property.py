"""Hypothesis property tests for operators/prefix.py and
operators/concomp.py — the two round-9 workhorse operators — against
brute-force Python references on arbitrary generated inputs (ties,
negatives, singleton partitions, disconnected graphs, self-contained
cliques). The oracle differentials certify them on the fixture
distributions; these pin the operator CONTRACTS on adversarial shapes
the fixtures never produce."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_caic_spark.operators.concomp import connected_components
from etl_caic_spark.operators.prefix import with_global_order

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=40,
    ),
    parts=st.integers(min_value=1, max_value=7),
)
def test_with_global_order_matches_sorted_reference(spark, vals, parts):
    """rn / cumsum / prevmax must equal the single-threaded sort, for
    any partition count — including duplicate order keys broken by the
    unique id."""
    rows = [(v, w, i) for i, (v, w) in enumerate(vals)]
    df = spark.createDataFrame(rows, "v int, w int, id int")
    out = {
        r["id"]: r
        for r in with_global_order(
            df,
            ["v", "id"],
            rn_col="rn",
            cumsum_cols={"cw": "w"},
            prevmax_cols={"pm": "w"},
            num_partitions=parts,
        ).collect()
    }
    ref = sorted(rows, key=lambda r: (r[0], r[2]))
    cum, mx = 0, None
    for rank, (v, w, i) in enumerate(ref, start=1):
        got = out[i]
        assert got["rn"] == rank
        cum += w
        assert got["cw"] == cum
        assert got["pm"] == mx  # EXCLUSIVE running max (None on first row)
        mx = w if mx is None else max(mx, w)


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Both paths — the driver gate and the star contraction forced by
    ``driver_edge_cutoff=0`` — must agree with a textbook union-find on
    any raw edge list (self-loops, duplicates, either orientation), with
    the minimum node id as the representative."""
    df = spark.createDataFrame(edges, "a bigint, b bigint")

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    ref = {n: find(n) for n in nodes}
    for cutoff in (1_000_000, 0):
        got = connected_components(df, driver_edge_cutoff=cutoff).collect()
        assert {r["v"]: r["component"] for r in got} == ref
        assert len(got) == len(ref)  # one row per endpoint


def test_connected_components_long_path(spark):
    """A 220-node chain — the high-diameter regime the property test's
    0..15 id domain can never reach. Before the pointer-doubling
    shortcut (round-10 fix) a min step moved each label exactly one hop
    per round, so this input silently exhausted the 64-round cap with
    135+ nodes carrying wrong labels; now it must resolve exactly, and
    a non-convergence raises instead of returning."""
    n = 220
    # shuffle ids deterministically so the path is not id-monotone
    # (id-monotone chains collapse trivially; the mixed chain is the
    # adversarial case where pointers creep)
    ids = [(i * 97) % n for i in range(n)]
    edges = [(min(a, b), max(a, b)) for a, b in zip(ids, ids[1:])]
    df = spark.createDataFrame(sorted(set(edges)), "a bigint, b bigint")
    got = {
        r["v"]: r["component"]
        for r in connected_components(df, driver_edge_cutoff=0).collect()
    }
    assert got == {v: 0 for v in range(n)}


def test_connected_components_two_long_chains(spark):
    """Two disjoint 80-node chains: components must not bleed into each
    other under the shortcut, and each resolves to its own minimum."""
    c1 = [(i, i + 1) for i in range(0, 79)]
    c2 = [(i, i + 1) for i in range(100, 179)]
    df = spark.createDataFrame(c1 + c2, "a bigint, b bigint")
    got = {
        r["v"]: r["component"]
        for r in connected_components(df, driver_edge_cutoff=0).collect()
    }
    want = {v: 0 for v in range(80)}
    want.update({v: 100 for v in range(100, 180)})
    assert got == want


def test_strip_plan_stats_pins_catalyst_size(spark):
    """localCheckpoint carries the origin plan's Catalyst sizeInBytes
    into the LogicalRDD, and a pointer-doubling SELF-join then SQUARES
    it every iteration (bit length doubles; measured 66 -> 8263 bits
    in 8 jumps before the fix, with planning cost exploding into
    BigInteger.multiplyToomCook3). strip_plan_stats must (a) preserve
    rows and schema exactly and (b) pin the estimate so five squarings
    leave the bit length flat."""
    from pyspark.sql import functions as F

    from etl_caic_spark.util import strip_plan_stats

    def bits(df):
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()

    replab = spark.range(100).select(
        F.col("id").alias("rep"), (F.col("id") - 1).alias("newlabel")
    ).localCheckpoint()
    baseline = None
    for _ in range(7):
        m2 = replab.select(
            F.col("rep").alias("r2"), F.col("newlabel").alias("nl2")
        )
        jumped = strip_plan_stats(
            replab.join(m2, replab["newlabel"] == m2["r2"], "left")
            .select("rep", F.coalesce("nl2", "newlabel").alias("newlabel"))
            .localCheckpoint()
        )
        b = bits(jumped)
        baseline = baseline or b
        assert b == baseline, "stats must not grow across self-joins"
        replab = jumped
    rows = {r["rep"]: r["newlabel"] for r in replab.collect()}
    assert len(rows) == 100  # strip preserved the data
    # ...and the doubled pointers fully resolved: 7 jumps cover distance
    # 2^7 = 128 > 101, so every rep has reached the chain root (-1)
    assert rows[50] == -1 and rows[99] == -1
    assert replab.schema.fieldNames() == ["rep", "newlabel"]


def test_strip_plan_stats_fallback_warns_once(spark):
    """Round-10 ADVICE closure: when the private APIs drift and the
    stats strip silently degrades to a no-op, the degradation must be
    OBSERVABLE — a one-time RuntimeWarning plus the module flag — so
    the planning-cost pathology it guards against cannot return
    unnoticed. Simulated by handing it an object whose _jdf access
    raises AttributeError (what Spark Connect frames do)."""
    import warnings as _warnings

    from etl_caic_spark import util as U

    class _FakeFrame:
        @property
        def sparkSession(self):
            return spark

        @property
        def _jdf(self):
            raise AttributeError("no _jdf on this build")

    fake = _FakeFrame()
    old_flag = U._STRIP_STATS_UNAVAILABLE
    U._STRIP_STATS_UNAVAILABLE = False
    try:
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            out1 = U.strip_plan_stats(fake)
            out2 = U.strip_plan_stats(fake)
        assert out1 is fake and out2 is fake  # unchanged frames back
        runtime = [w for w in caught if issubclass(w.category, RuntimeWarning)]
        assert len(runtime) == 1, "exactly one warning for repeated fallbacks"
        assert "strip_plan_stats" in str(runtime[0].message)
        assert U._STRIP_STATS_UNAVAILABLE is True
    finally:
        U._STRIP_STATS_UNAVAILABLE = old_flag


def test_connected_components_gate_matches_distributed(spark):
    """The size gate's driver path must return exactly the distributed
    star-contraction's labels (same rows, same types) — and cutoff=0
    must force the distributed path."""
    edges = [(2, 1), (3, 2), (5, 9), (9, 5), (7, 7), (10, 11)]
    df = spark.createDataFrame(edges, "a long, b long")
    via_driver = {
        (r["v"], r["component"])
        for r in connected_components(df).collect()
    }
    via_dist = {
        (r["v"], r["component"])
        for r in connected_components(df, driver_edge_cutoff=0).collect()
    }
    assert via_driver == via_dist
    assert connected_components(df).schema == connected_components(
        df, driver_edge_cutoff=0
    ).schema
