"""Eager builders without per-expression round trips: declared table
schemas (sources/tables.load_table), the SQL-text md5 MinHash-LSH build
(operators/dedup.py) and the one-fetch Arrow gate of the
connected-components operator (operators/concomp.py)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_caic_spark.operators import concomp
from etl_caic_spark.operators import dedup as D
from etl_caic_spark.registry import all_specs
from etl_caic_spark.schemas import TABLE_SCHEMAS
from etl_caic_spark.sources import TABLE_NAMES, load_table, table_path


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_equal_inferred(spark, sf_dir, sf):
    """Names, types and order: what Spark's parquet inference gives every
    fixture table is exactly its TABLE_SCHEMAS declaration, and load_table
    reads it with the declared schema."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    assert set(TABLE_SCHEMAS) == set(TABLE_NAMES)
    for name in TABLE_NAMES:
        inferred = spark.read.parquet(table_path(sf_dir, name)).schema
        assert TABLE_SCHEMAS[name] == inferred, name
        if name != "events":  # events.ts is normalized after the read
            assert load_table(spark, sf_dir, name).schema == inferred, name


def test_load_table_runs_no_job(spark, sf_dir):
    _, jobs = _jobs_in_group(
        spark,
        "load-table-no-job",
        lambda: [load_table(spark, sf_dir, n) for n in TABLE_NAMES],
    )
    assert jobs == 0


def _docs(tmp_path, **cols):
    base = {
        "doc_id": pa.array([0, 1], pa.int64()),
        "text": pa.array(["a b c", "a b d"]),
        "lang": pa.array(["en", "en"]),
        "source": pa.array(["s", "s"]),
        "n_chars": pa.array([5, 5], pa.int64()),
    }
    base.update(cols)
    pq.write_table(pa.table({k: v for k, v in base.items() if v is not None}),
                   tmp_path / "documents.parquet")
    return str(tmp_path)


def test_load_table_raises_on_renamed_column(spark, tmp_path):
    sf = _docs(tmp_path, text=None, body=pa.array(["a b c", "a b d"]))
    with pytest.raises(TypeError, match="body: file .*declared None"):
        load_table(spark, sf, "documents")


def test_load_table_raises_on_retyped_column(spark, tmp_path):
    sf = _docs(tmp_path, doc_id=pa.array([0, 1], pa.int32()))
    with pytest.raises(TypeError, match="doc_id: file IntegerType.*LongType"):
        load_table(spark, sf, "documents")


def test_load_table_raises_on_retyped_events_column(spark, tmp_path):
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_700_000_000_000_000], pa.timestamp("us")),
                "user_id": pa.array(["u1"]),
            }
        ),
        tmp_path / "events.parquet",
    )
    with pytest.raises(TypeError, match="user_id: file StringType"):
        load_table(spark, str(tmp_path), "events")


@pytest.fixture(scope="module")
def md5_twin_pairs(duck):
    rel = duck.sql(all_specs()["dedup_minhash_md5"].oracle)
    return {(a, b, e) for a, b, e in rel.fetchall()}


@pytest.mark.parametrize("checkpoint_sig", [True, False])
def test_md5_candidate_shapes_match_twin(spark, sf_dir, md5_twin_pairs, checkpoint_sig):
    d = load_table(spark, sf_dir, "documents")
    got = D.minhash_md5_candidate_pairs(
        d, "doc_id", "text", num_hashes=16, bands=8, k=3, threshold=0.5,
        checkpoint_sig=checkpoint_sig,
    )
    assert got.columns == ["doc_a", "doc_b", "est_jaccard"]
    assert {tuple(r) for r in got.collect()} == md5_twin_pairs
    assert md5_twin_pairs  # planted near-dups: non-vacuous
    if not checkpoint_sig:
        # merge hints on both sides: the sig pipeline runs once
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan and "SortMergeJoin" in plan


def _union_find(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}


EDGES = [(2, 1), (3, 2), (5, 9), (9, 5), (10, 11), (11, 12), (20, 4), (4, 6)]


def _spy(monkeypatch, df, name):
    calls = []
    orig = getattr(type(df), name)

    def spy(self, *a, **kw):
        calls.append(name)
        return orig(self, *a, **kw)

    monkeypatch.setattr(type(df), name, spy)
    return calls


def test_gate_is_one_bounded_arrow_fetch(spark, monkeypatch):
    """Below the cutoff the gate fetches once through Arrow (no Row
    collect), hands back a local relation, and labels with the
    post-union type: int and bigint endpoints give bigint labels."""
    df = spark.createDataFrame(EDGES, "a int, b long")
    arrow = _spy(monkeypatch, df, "toArrow")
    rows = _spy(monkeypatch, df, "collect")
    out = concomp.connected_components(df)
    assert arrow == ["toArrow"] and rows == []
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint"] * 2
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert {(r["v"], r["component"]) for r in out.collect()} == _union_find(EDGES)


def test_gate_above_small_cutoff_runs_distributed(spark, monkeypatch):
    """With a cutoff below the edge count the probe comes back over the
    cutoff and the distributed loop runs; its labels are union-find's."""
    df = spark.createDataFrame(EDGES, "a long, b long")
    ran = []
    orig = concomp._shortcut

    def spy(*a, **kw):
        ran.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(concomp, "_shortcut", spy)
    out = concomp.connected_components(df, driver_edge_cutoff=3)
    assert ran, "distributed loop did not run"
    assert {(r["v"], r["component"]) for r in out.collect()} == _union_find(EDGES)


def test_pq_width_gates_on_scan_size(spark, sf_dir):
    """The PQ coordinate stream is one partition only while the embeddings
    scan fits in one file split; a larger scan uses the cluster width."""
    from etl_caic_spark.plans.wave10a import _pq_width

    emb = load_table(spark, sf_dir, "embeddings")
    assert _pq_width(emb) == 1
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        wide = _pq_width(load_table(spark, sf_dir, "embeddings"))
    finally:
        spark.conf.set(key, old)
    assert wide == spark.sparkContext.defaultParallelism
