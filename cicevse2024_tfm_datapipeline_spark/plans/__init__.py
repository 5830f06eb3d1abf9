"""Query-plan surface: importing this package registers every query.

The driver certifies the first 50 entries of ``queries()``, i.e. of
``load_all()``. ``_PRIORITY`` is that prefix, and ``tools/next_window.py``
derives it; every other query follows in registration order.
"""

from __future__ import annotations

import importlib

from cicevse2024_tfm_datapipeline_spark.plans.registry import Query, registry

_MODULES = [
    "core_relational",
    "windows_ts",
    "metrics_queries",
    "extensions",
    "rows_only",
    "advanced",
    "tpch_suite",
    "wave4",
    "wave5",
    "wave6",
    "wave7",
    "wave8",
    "wave9",
    "wave10",
    "wave11",
    "wave12",
    "wave13",
    "wave14",
    "wave15",
    "wave16",
    "wave17",
    "wave18",
    "wave19",
    "wave20",
    "wave21",
    "wave22",
    "wave23",
    "wave24",
    "wave25",
    "wave26",
    "wave27",
    "wave28",
    "wave29",
    "wave30",
    "wave31",
    "wave32",
    "wave33",
    "wave34",
    "wave35",
    "wave36",
    "wave37",
    "wave38",
    "wave39",
    "wave40",
    "wave41",
    "wave42",
    "wave43",
]

_PRIORITY = [
    "dedup_lsh_components",
    "dedup_fuzzy_survivors",
    "pipeline_fuzzy_corpus",
    "dedup_golden_record",
    "dedup_edit_distance_verify",
    "dedup_mutual_best_match",
    "dedup_containment_pairs",
    "g_pagerank_lsh",
    "g_triangle_count_lsh",
    "g_clustering_coefficient",
    "g_adamic_adar",
    "g_kcore_two_rounds",
    "g_bfs_levels_lsh",
    "r5_hash_permutation",
    "a_kaplan_meier",
    "dedup_prefix_filter_jaccard",
    "a_vif_multicollinearity",
    "a11_multiclass_auc",
    "a11_ovr_auc_per_class",
    "j_salted_skew_join",
    "a_pinball_loss_quantile_eval",
    "a_quantile_treatment_effect",
    "a_countmin_heavy_hitters",
    "ml_gbm_two_stumps",
    "a_cross_correlation_lags",
    "m8_sample_size_grid",
    "text_dedup_threshold_curve",
    "sim_ivf_topk",
    "dedup_semdedup_cells",
    "sample_mixture_by_source",
    "stream_static_join",
    "sim_srp_lsh_pairs",
    "a13_threshold_at_fpr",
    "a13_roc_curve_points",
    "a13_roc_auc",
    "a13_average_precision",
    "w6_sessionize_ttd",
    "a_weighted_median",
    "pack_concat_chunks",
    "a_mann_whitney_u",
    "a_mutual_information_ranking",
    "f_quantile_normalize",
    "a_psi_drift",
    "ml_pca_power_iteration",
    "stream_upsert_scd1",
    "s13_jsonl_sink_roundtrip",
    "w1_chrono_split_counts",
    "dedup_minhash_lsh_pairs",
    "stream_session_window",
    "tpch_q1_pricing_summary",
]


def load_all() -> dict[str, Query]:
    for m in _MODULES:
        importlib.import_module(f"cicevse2024_tfm_datapipeline_spark.plans.{m}")
    reg = registry()
    ordered: dict[str, Query] = {}
    for name in _PRIORITY:
        if name in reg:
            ordered[name] = reg[name]
    for name, q in reg.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


__all__ = ["load_all", "Query", "registry"]
