"""Dump the FINAL executed plans of the headline queries to PLANS.md.

`.explain("formatted")` shows the initial plan; what actually ran under
AQE is the finalized AdaptiveSparkPlan — so each query is executed first
and the final plan string is captured. The output is the audit artifact
for the scale claims in SCALE.md: pushed filters, partition filters
(static + dynamicpruning), broadcast vs shuffle joins, Expand-free
bitmap aggregations, and whole-stage-codegen spans are all visible.

Usage: python tools/plan_audit.py [query ...]   (default: headline set)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_caic_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

HEADLINE = [
    "tpch_q3_shape",
    "tpch_q10_shape",
    "tpch_q7_shape",
    "agg_bitmap_distinct",
    "win_sliding_distinct",
    "geo_grid_join",
    "join_interval_overlap",
    "merge_full",
    "scan_dynamic_partition_pruning",
    "scan_partition_pruned",
    "join_runtime_bloom",
    "join_bucketed",
    "sketch_countmin_freq",
    "dedup_minhash_md5",
    "cdc_apply_changes",
    # TPC-H completion wave — the four plans whose shape claims are
    # strongest: scan-only pushdown (q6), argmin join-back over a
    # broadcast dim chain (q2), 8-table star (q8), grouped-window (q21)
    "tpch_q6_shape",
    "tpch_q2_shape",
    "tpch_q8_shape",
    "tpch_q21_shape",
    # wave 16-17 flagship + mechanisms
    "clickstream_pipeline",
    "geo_point_in_polygon",
    "join_null_safe",
    "data_mixture_sampler",
    # waves 21-28: the plans whose shape claims are strongest — AUC
    # window over distinct scores, degree-truncated wedge join, single-
    # Expand multi-distinct, TakeOrdered reservoir, BNLJ contamination,
    # sweep-line window, checkpointed k-core rounds
    "eval_auc_exact",
    "graph_jaccard_links",
    "agg_distinct_filter",
    "sample_reservoir_k",
    "text_substring_contamination",
    "win_concurrent_sweep",
    "graph_kcore_peel",
    # round 9: the prefix-construction rewrites (no unpartitioned
    # WindowExec anywhere — verify in the plan text) and the wave-9
    # flagships whose shape claims are strongest: grid-blocked Kendall,
    # PQ shortlist+rerank, star-contraction dedup clustering, codec
    # fan-out, histogram boosting
    "analytics_gini",
    "analytics_skyline",
    "rag_rrf_fusion",
    "stat_kendall_tau",
    "sim_pq_adc",
    "dedup_cluster_canonical",
    "multimodal_gif_codec",
    "ml_boosted_stumps",
    # round 11: the histogram-cell boosting rewrite re-audits above;
    # plus the multi-statistic selection (one CASE-routed histogram per
    # round) and the wave15 plans whose shape claims are strongest —
    # model-join perplexity, single-groupBy DPO pairs, bounded-grid
    # CUSUM
    "agg_median_selection",
    "eval_perplexity_heldout",
    "data_dpo_pairs",
    "ts_changepoint_cusum",
    # round 14: the wave19 additions (gram-window dedup, zero-shuffle
    # scorer, broadcast cross-modal rank, broadcast reward joins), the
    # single-self-join LSH sweep, and the fused curation flagship
    "dedup_gram50_exact",
    "quality_fasttext_linear",
    "eval_crossmodal_recall",
    "eval_reward_margin",
    "eval_lsh_threshold_sweep",
    "corpus_curation_pipeline",
    # round 15: the wave20 additions (broadcast-centroid SemDeDup prune,
    # zero-shuffle char-trigram langid, bounded-domain DoReMi rounds,
    # four-leg ensemble join) and the md5-band-sampled minhash audit
    "dedup_semdedup_prune",
    "text_langid_chargram",
    "data_doremi_reweight",
    "dedup_ensemble_agreement",
    "eval_minhash_quality",
    # round 15 wave21: the composed quality gate, the cross-method
    # semantic audit, and the single-fold RHO selection
    "quality_ensemble_gate",
    "eval_semdedup_agreement",
    "data_rho_selection",
    # round 15 wave22: duplicate-span removal (gram-df window + island
    # merge + per-row rebuild), the pair-join-free D4 prototype prune,
    # and the histogram-cross-product Bradley-Terry aggregation
    "text_exactsubstr_removal",
    "data_d4_prototype_prune",
    "eval_bt_strength",
]


def main() -> None:
    names = sys.argv[1:] or HEADLINE
    spark = get_spark(app_name="plan-audit", cpus=8)
    from etl_caic_spark.registry import all_specs

    specs = all_specs()
    header = [
        "# PLANS — finalized AQE executed plans (sf0.01, local[8])",
        "",
        "Generated by tools/plan_audit.py; regenerate after plan-affecting",
        "changes. Read together with SCALE.md's plan-audit sections.",
        "",
    ]
    out = list(header)
    for name in names:
        df = specs[name].fn(spark, SF_DIR)
        df.collect()  # finalize the adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0].rstrip()
        out.append(f"## {name}\n\n```\n{plan}\n```\n")
    # Append when auditing an explicit subset (PLANS.md accumulates per
    # wave); a full default run rewrites the artifact from scratch.
    mode = "a" if sys.argv[1:] else "w"
    with open(os.path.join(REPO, "PLANS.md"), mode) as fh:
        if mode == "a":
            fh.write("\n")
            # Slice off exactly the header so the FIRST requested query's
            # section is kept (a former off-by-one dropped it).
            fh.write("\n".join(out[len(header):]))
        else:
            fh.write("\n".join(out))
    print(f"{'appended' if mode == 'a' else 'wrote'} PLANS.md with "
          f"{len(names)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
