"""Wave-20a behavioral tests: python-reference replays of the char-
trigram langid scorer and the DoReMi integer reweighting, plus
structural laws for the SemDeDup IVF prune and the dedup-ensemble
verdict matrix. The oracle differential runs via tools/driver_sim.py
as usual."""

from __future__ import annotations

import math
from collections import Counter

from etl_caic_spark.plans.wave20a import (
    _DRM_B,
    _DRM_W0,
    _LID_BUCKETS,
    _LID_SALTS,
    _LID_SPAN,
    _SD_TAU,
)
from etl_caic_spark.registry import all_specs
from etl_caic_spark.sources import load_table

SPECS = all_specs()


def _lid_scores(text: str) -> dict[str, int]:
    cs = [ord(c) for c in text]
    ghs = [
        ((cs[i] * 31 + cs[i + 1]) * 31 + cs[i + 2]) % _LID_BUCKETS
        for i in range(len(cs) - 2)
    ]
    return {
        lang: sum((g * salt) % _LID_SPAN - 1001 for g in ghs)
        for lang, salt in _LID_SALTS
    }


def test_langid_chargram_matches_python_reference(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text").collect()
    expected = {}
    for r in docs:
        s = _lid_scores(r["text"])
        best = max(s.values())
        pred = next(lang for lang, _ in _LID_SALTS if s[lang] == best)
        expected[r["doc_id"]] = (
            tuple(s[lang] for lang, _ in _LID_SALTS),
            pred,
            pred == r["lang"],
        )
    got = {
        r["doc_id"]: (
            (r["s_de"], r["s_en"], r["s_es"], r["s_fr"], r["s_zh"]),
            r["predicted_lang"],
            r["agrees"],
        )
        for r in SPECS["text_langid_chargram"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    # frozen tables must actually discriminate: more than one predicted lang
    assert len({v[1] for v in expected.values()}) > 1


def test_doremi_reweight_matches_python_reference(spark, sf_dir):
    rows = SPECS["data_doremi_reweight"].fn(spark, sf_dir).collect()
    assert rows
    # replay the integer update from the (docs, fails) the query reports
    loss = {r["source"]: r["loss_milli"] for r in rows}
    for r in rows:
        assert r["loss_milli"] == (2 * r["fails"] * 1000 + r["docs"]) // (
            2 * r["docs"]
        )
    w = {s: _DRM_W0 for s in loss}
    traj = {s: [] for s in loss}
    for _ in range(3):
        den = sum(w.values())
        num = sum(w[s] * loss[s] for s in w)
        raw = {s: w[s] * (_DRM_B * den + (loss[s] * den - num)) for s in w}
        mx = max(raw.values())
        w = {s: (2 * raw[s] * 1000 + mx) // (2 * mx) for s in w}
        for s in w:
            traj[s].append(w[s])
    got = {r["source"]: [r["w1_milli"], r["w2_milli"], r["w3_milli"]] for r in rows}
    assert got == traj
    ssum = sum(w.values())
    for r in rows:
        assert r["share_micro"] == (2 * w[r["source"]] * 1_000_000 + ssum) // (
            2 * ssum
        )
    # the reweighting must move mass toward lossier domains
    hi = max(loss, key=lambda s: (loss[s], s))
    lo = min(loss, key=lambda s: (loss[s], s))
    if loss[hi] != loss[lo]:
        assert w[hi] > w[lo]


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_semdedup_prune_laws(spark, sf_dir):
    rows = SPECS["dedup_semdedup_prune"].fn(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    n_twins = (
        load_table(spark, sf_dir, "embeddings").filter("vec_id % 10 = 0").count()
    )
    # one verdict per corpus vector (originals + planted twins)
    assert len(rows) == n_vecs + n_twins
    by_id = {r["vec_id"]: r for r in rows}
    pruned = [r for r in rows if not r["is_kept"]]
    assert pruned, "planted twins must be pruned"
    for r in rows:
        assert r["is_kept"] == (r["n_close_prior"] == 0)
        assert not r["cluster_capped"]  # fixture clusters sit far under the cap
    # a pruned twin shares its cluster with a smaller-id close neighbor:
    # spot-check against exact cosine for every pruned twin
    emb = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    for r in pruned:
        if r["vec_id"] < 100000:
            continue
        src = r["vec_id"] - 100000
        te = list(emb[src])
        te[src % 64] = -te[src % 64]
        if by_id[src]["cluster_id"] == r["cluster_id"]:
            assert round(_cos(te, emb[src]), 6) >= _SD_TAU
    # keep-min: the smaller id of every (src, twin) same-cluster pair is kept
    # only if IT has no earlier neighbor — but the twin (larger id) must be
    # the pruned side whenever exactly that pair is close
    n_twin_pruned = sum(1 for r in pruned if r["vec_id"] >= 100000)
    assert n_twin_pruned >= len(pruned) / 2


def test_ensemble_agreement_laws(spark, sf_dir):
    rows = SPECS["dedup_ensemble_agreement"].fn(spark, sf_dir).collect()
    assert rows
    by_id = {r["doc_id"]: r for r in rows}
    docs = load_table(spark, sf_dir, "documents").select("doc_id").collect()
    planted = {r["doc_id"] for r in docs if r["doc_id"] % 10 == 0}
    for r in rows:
        assert r["n_methods"] == sum(
            [r["by_exact"], r["by_minhash"], r["by_simhash"], r["by_gram50"]]
        )
        assert 1 <= r["n_methods"] <= 4
    # every planted exact dup (and its copy) is flagged by ALL four methods:
    # identical text => md5 collision, jaccard 1, hamming 0, identical grams
    for did in planted:
        for key in (did, did + 1000000):
            r = by_id[key]
            assert r["n_methods"] == 4, r
    # the ensemble must also show DISAGREEMENT rows (near-dups caught by a
    # strict subset of methods) — otherwise the matrix is vacuous
    assert any(r["n_methods"] < 4 for r in rows)
    c = Counter(r["n_methods"] for r in rows)
    assert c[4] >= 2 * len(planted)


def _jobs_by_group(spark, group, build):
    """Run build() under job group `group`; return (jobs in the group,
    jobs it started outside any group)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    spark.range(1).count()  # marker: the newest ungrouped job so far
    bus.waitUntilEmpty()
    marker = max(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "leg inheritance")
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    ungrouped = [j for j in tracker.getJobIdsForGroup(None) if j > marker]
    return tracker.getJobIdsForGroup(group), ungrouped


def test_submit_inheriting_runs_leg_in_callers_group(spark):
    from concurrent.futures import ThreadPoolExecutor

    from etl_caic_spark.util import submit_inheriting

    def one_leg(submit):
        def build():
            with ThreadPoolExecutor(max_workers=1) as pool:
                submit(pool, lambda: spark.range(100).count()).result()

        return build

    grouped, ungrouped = _jobs_by_group(
        spark, "t-inherit", one_leg(lambda p, fn: submit_inheriting(p, spark, fn))
    )
    assert grouped and not ungrouped
    # a plain submit starts the leg without the caller's properties
    grouped, ungrouped = _jobs_by_group(
        spark, "t-plain", one_leg(lambda p, fn: p.submit(fn))
    )
    assert ungrouped and not grouped


def test_ensemble_legs_land_in_callers_group(spark, sf_dir):
    """The minhash and simhash legs' eager checkpoint jobs run on pool
    threads; every one of them is attributed to the caller's job group."""
    grouped, ungrouped = _jobs_by_group(
        spark, "t-ensemble", lambda: SPECS["dedup_ensemble_agreement"].fn(spark, sf_dir)
    )
    assert grouped and not ungrouped
