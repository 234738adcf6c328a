"""Connected-components dedup groups vs a Python union-find ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_caic_spark.operators import dedup as D
from etl_caic_spark.operators.concomp import connected_components, dedup_groups
from etl_caic_spark.sources import load_table


class UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def test_components_match_union_find(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", ["lang", "source"], k=3, threshold=0.5
    )
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edge_list = [(r["a"], r["b"]) for r in edges.collect()]
    assert edge_list, "no near-dup pairs — corpus changed?"

    uf = UnionFind()
    for a, b in edge_list:
        uf.union(a, b)
    expected = {v: uf.find(v) for v in uf.parent}

    # default path (size-gated: small edge sets run driver union-find)
    got = {r["v"]: r["component"] for r in connected_components(edges).collect()}
    # canonical min-representative: union-find path roots ARE the min ids
    # because union() always parents the larger root under the smaller.
    assert got == expected

    # distributed path forced (cutoff=0): must produce identical labels
    got_dist = {
        r["v"]: r["component"]
        for r in connected_components(edges, driver_edge_cutoff=0).collect()
    }
    assert got_dist == expected


def test_dedup_groups_representatives(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", ["lang", "source"], k=3, threshold=0.5
    )
    groups = dedup_groups(d.select("doc_id"), pairs, "doc_id")
    rows = groups.collect()
    assert len(rows) == d.count()
    # representative of each group is the min member id
    by_group: dict[int, list[int]] = {}
    for r in rows:
        by_group.setdefault(r["group_id"], []).append(r["doc_id"])
    for gid, members in by_group.items():
        assert gid == min(members)
    reps = sum(1 for r in rows if r["is_representative"])
    assert reps == len(by_group)
