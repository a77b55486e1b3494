"""Physical-plan audit: for each headline query, record the properties
that matter at 100 TB — exchange count, broadcast count, pushed filters,
read schemas (column pruning), and join strategies — into PLANS.md.

Run after changing any plan: `python tools/explain_audit.py [sf_dir]`.
The artifact is the evidence that filters reach the scan, dims
broadcast, and no operator added an accidental shuffle.
"""

from __future__ import annotations

import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from airflow_scraping_etl_tutorial_spark.plans import all_queries  # noqa: E402
from airflow_scraping_etl_tutorial_spark.session import get_spark  # noqa: E402

AUDITED = (
    "q01_flagship_revenue_by_region_year",
    "q02_filter_project_pushdown",
    "q03_point_lookup",
    "q04_groupby_agg_pricing_summary",
    "q13_join_range_inequality",
    "q16_window_topk_per_group",
    "q18_global_topk",
    "q26_salted_join_equivalence",
    "q60_dedup_exact_text",
    "q68_minhash_near_duplicates",
    "q71_cosine_topk_bruteforce",
    "q76_ivf_topk_cosine",
    "q77_training_data_prep_pipeline",
    "q80_events_hourly_tumbling",
    "q84_asof_join_purchase_signup",
    "q93_multimodal_featurize",
    "q99_tpch_q5_local_supplier_volume",
    "q103_decontamination_ngram_overlap",
    "q106_tpch_q18_large_volume_customer",
    "q107_retention_cohorts",
    "q111_tpch_q21_sole_returning_supplier",
    "q116_tpch_q6_forecast_revenue",
    "q131_tpch_q9_product_profit",
    "q133_tpch_q13_customer_distribution",
    "q136_tpch_q20_excess_shippers",
    "q126_product_quantization",
    "q139_block_dedup",
    "q140_bpe_pair_merges",
    "q141_contamination_overlap_ratio",
    # wave 4 (plans/llm_ops3.py)
    "q142_table_checksum_reconciliation",
    "q143_ann_recall_audit",
    "q149_referential_integrity_audit",
    "q152_numeric_correlation_matrix",
    "q153_rfm_segmentation",
    # wave 5 (plans/llm_ops4.py)
    "q154_semdedup_semantic_dedup",
    "q155_dedup_keep_list",
    "q158_shingle_novelty_by_source",
    "q161_cross_source_leakage",
    "q164_brand_basket_pairs",
    "q166_zipf_slope",
    "q169_activity_concentration",
    "q171_prefix_dedup_savings",
    "q182_dedup_cascade_report",
    # wave 6 (plans/llm_ops5.py; promoted round 6)
    "q185_dup_cluster_size_histogram",
    "q188_late_arrival_audit",
    "q193_token_gini",
    "q199_psi_value_drift",
    "q202_scd2_point_in_time_join",
    # wave 7 (plans/llm_ops6.py; promoted round 6)
    "q204_lsh_threshold_sweep",
    "q208_bloom_incremental_screen",
    "q211_cluster_source_purity",
    "q213_dedup_priority",
    "q214_token_budget_cut",
    # wave 8 (plans/llm_ops7.py; promoted round 7)
    "q215_hll_distinct_audit",
    "q216_countmin_heavy_hitters",
    "q217_event_markov_transitions",
    "q218_edit_distance_verify",
    "q219_join_key_skew_audit",
    "q221_incremental_snapshot_delta",
    "q223_assoc_rule_lift",
    # wave 9 (plans/llm_ops8.py; promoted round 7)
    "q225_prefix_filter_setjoin",
    "q226_dup_graph_pagerank",
    "q227_join_cardinality_audit",
    "q230_frame_hash_neardup",
    "q231_vocab_overlap_hll",
    "q232_session_gap_sweep",
    "q233_order_reconciliation",
    "q234_mad_outlier_audit",
    # wave 10 (plans/llm_ops9.py; promoted round 7)
    "q235_bm25_retrieval",
    "q237_shingle_containment",
    "q238_source_term_cosine",
    "q239_quality_budget_packing",
    "q241_cdc_compaction_audit",
    "q242_item_cooccurrence_affinity",
    "q244_bigram_entropy_rate",
    "q245_rrf_hybrid_retrieval",
    # wave 11 (plans/llm_ops10.py; promoted round 7)
    "q247_ohlc_daily_candles",
    "q249_matryoshka_truncation_audit",
    "q250_connected_components_minlabel",
    "q252_shipping_sla_percentiles",
    "q253_volume_trend_slope",
    "q255_top_event_paths",
    "q256_k_anonymity_audit",
    # staged wave 12 (plans/llm_ops11.py)
    "q258_kmeans_converged_assignment",
    "q259_kcore_peel_rounds",
    "q260_duplicate_shingle_coverage",
    "q261_time_split_leakage",
    "q262_token_tail_mass",
    "q264_detector_agreement",
    "q265_dedup_mixture_shift",
    "q266_event_type_fano",
    # staged wave 13 (plans/llm_ops12.py)
    "q267_histogram_quantile_error",
    "q268_edit_distance_one_join",
    "q269_incremental_signature_maintenance",
    "q270_curriculum_interleave_plan",
    "q271_source_kl_divergence",
    "q272_dedup_keep_policy_impact",
    # staged wave 14 (plans/llm_ops13.py)
    "q273_dup_graph_assortativity",
    "q274_blocking_key_quality",
    "q275_mergeable_moments_audit",
    "q276_naive_forecast_backtest",
    "q277_touch_attribution",
    "q278_histogram_merge_audit",
    # staged wave 15 (plans/llm_ops14.py)
    "q279_poisson_bootstrap_mean",
    "q280_functional_dependency_audit",
    "q281_source_coverage_curve",
    "q282_hard_negative_mining",
    "q283_padding_waste_audit",
    "q284_memorylessness_audit",
    # staged wave 16 (plans/llm_ops15.py)
    "q285_waterfill_token_allocation",
    "q286_ranking_stability_bootstrap",
    "q287_type_hour_mutual_information",
    "q288_dictionary_encoding_benefit",
    "q289_runtime_filter_benefit",
    # staged wave 17 (plans/llm_ops16.py)
    "q290_quantile_stability_bootstrap",
    "q291_step_changepoint",
    "q292_cusum_drift",
    # staged wave 18 (plans/llm_ops17.py)
    "q293_theil_sen_slope",
    "q294_mann_kendall_trend",
    "q295_daily_autocorrelation",
    # staged wave 19 (plans/llm_ops18.py)
    "q296_ab_chisquare_conversion",
    "q297_empirical_bayes_rates",
    "q298_capture_recapture_estimate",
    "q299_unseen_vocab_estimators",
    # staged wave 20 (plans/llm_ops19.py)
    "q300_permutation_test_conversion",
    "q301_standardized_conversion",
    "q302_difference_in_differences",
    # staged wave 21 (plans/llm_ops20.py)
    "q303_kaplan_meier_conversion",
    "q304_logrank_test",
    # staged wave 22 (plans/llm_ops21.py)
    "q305_postings_compression_audit",
    "q306_fold_dup_leakage",
    "q307_source_ablation_coverage",
    "q308_resharding_migration_audit",
    # staged wave 23 (plans/llm_ops22.py)
    "q309_phrase_query_positional",
    "q310_ab_power_sample_size",
    "q311_greedy_source_selection",
    # staged wave 24 (plans/llm_ops23.py)
    "q312_zorder_skipping_benefit",
    "q313_rle_sortorder_benefit",
    # staged wave 25 (plans/llm_ops24.py)
    "q314_ams_selfjoin_estimate",
    "q315_join_order_cost_audit",
    "q316_predicate_correlation_audit",
    # staged wave 26 (plans/llm_ops25.py)
    "q317_markov_absorption_reach",
    "q318_hill_tail_index",
    "q319_follow_leader_regret",
    # staged wave 27 (plans/llm_ops26.py)
    "q320_rolling_distinct_audit",
    "q321_markov_order_audit",
    # staged wave 28 (plans/llm_ops27.py)
    "q322_anova_source_lengths",
    "q323_gains_curve",
    "q324_ks_two_sample",
    # staged wave 29 (plans/llm_ops28.py)
    "q325_mann_whitney_binned",
    "q326_bh_fdr_control",
    # staged wave 30 (plans/llm_ops29.py)
    "q327_cuped_variance_reduction",
    "q328_jackknife_ratio_dispersion",
    # staged wave 31 (plans/llm_ops30.py)
    "q329_isotonic_calibration",
    "q330_reliability_ece",
    # staged wave 32 (plans/llm_ops31.py)
    "q331_conformal_coverage",
    # staged wave 33 (plans/llm_ops32.py)
    "q332_retrieval_ndcg_audit",
    "q333_retrieval_precision_recall",
    "q334_rank_correlation_kendall",
    "q335_t_closeness_audit",
    "q336_dp_histogram_utility",
    # staged wave 34 (plans/llm_ops33.py)
    "q337_dup_graph_triangles",
    "q338_stupid_backoff_scoring",
    "q339_weighted_sample_aes",
    "q340_compaction_plan_audit",
    "q341_tfidf_source_keywords",
    # staged wave 35 (plans/llm_ops34.py)
    "q342_reciprocal_best_match",
    "q343_join_ivm_delta_audit",
    "q344_allocation_design_effect",
    "q345_weighted_sample_merge_proof",
    # staged wave 36 (plans/llm_ops35.py)
    "q346_langid_confusion_audit",
    "q347_markov_next_event_accuracy",
    "q348_session_likelihood_outliers",
    # staged wave 37 (plans/llm_ops36.py)
    "q349_randomized_response_debias",
    "q350_bitpacking_benefit",
    "q351_windowed_funnel_sweep",
    # staged wave 38 (plans/llm_ops37.py)
    "q352_horvitz_thompson_total",
    "q353_rater_agreement_kappa",
    "q354_runs_test_assignment",
    "q355_novel_ngram_rate",
    "q356_temperature_source_mixture",
    # staged wave 39 (plans/llm_ops38.py)
    "q357_data_scaling_curve",
    "q358_mcnemar_classifier_test",
    "q359_embedding_decontamination",
    # staged wave 40 (plans/llm_ops39.py)
    "q360_wilcoxon_signed_rank",
    "q361_cochran_q_raters",
    "q362_winsorized_daily_mean",
    # staged wave 41 (plans/llm_ops40.py)
    "q363_sprt_early_stopping",
    "q364_stratified_ate",
    "q365_apportioned_eval_sample",
    # staged wave 42 (plans/llm_ops41.py)
    "q366_mantel_haenszel_rr",
    "q367_readability_by_source",
    "q368_confusion_cramers_v",
    # staged wave 43 (plans/llm_ops42.py)
    "q369_shared_span_localization",
    "q370_brier_decomposition",
    "q371_median_confidence_interval",
    # staged wave 44 (plans/llm_ops43.py)
    "q372_kcenter_coreset_picks",
    "q373_split_balance_chisquare",
    "q374_split_length_emd",
    # staged wave 45 (plans/llm_ops44.py)
    "q375_dup_graph_lang_modularity",
    "q376_benford_first_digit",
    "q377_timestamp_delta_encoding",
    # staged wave 46 (plans/llm_ops45.py)
    "q378_fellegi_sunter_weights",
    "q379_selection_regression_to_mean",
    "q380_decile_qte",
    # staged wave 47 (plans/llm_ops46.py)
    "q381_ldiversity_tcloseness",
    "q382_ttl_cache_hit_curve",
    "q383_hub_removal_robustness",
    # staged wave 48 (plans/llm_ops47.py)
    "q384_term_adaptation",
    "q385_referential_integrity",
    "q386_rapid_repeat_orders",
    # staged wave 49 (plans/llm_ops48.py)
    "q387_cohort_retention",
    "q388_topk_leaderboard_churn",
    "q389_activity_max_drawdown",
    # staged wave 50 (plans/llm_ops49.py)
    "q390_median_mad_anomaly_days",
    "q391_covariate_balance_smd",
    "q392_shipping_lag_slo",
    # staged wave 51 (plans/llm_ops50.py)
    "q393_growth_decomposition",
    "q394_discount_quantity_elasticity",
    "q395_deletion_cascade_impact",
    # staged wave 52 (plans/llm_ops51.py)
    "q396_pareto_skyline",
    "q397_range_split_points",
    "q398_abc_classification",
    # staged wave 53 (plans/llm_ops52.py)
    "q399_open_order_concurrency",
    "q400_stockout_running_balance",
    "q401_primary_key_uniqueness",
    # staged wave 54 (plans/llm_ops53.py)
    "q402_cross_source_dup_matrix",
    "q403_daily_lead_lag",
    "q404_frequent_brand_triples",
    # staged wave 55 (plans/llm_ops54.py)
    "q405_histogram_selectivity_error",
    "q406_front_coding_benefit",
    "q407_ltv_curve",
    # staged wave 56 (plans/llm_ops55.py)
    "q408_equidepth_selectivity_error",
    "q409_feature_hash_collisions",
    "q410_zipf_tail_fit",
    # staged wave 57 (plans/llm_ops56.py)
    "q411_decision_stump",
    "q412_hash_partition_balance",
    "q413_error_budget_burn",
    # staged wave 58 (plans/llm_ops57.py)
    "q414_join_fanout_audit",
    "q415_overdispersion_audit",
    "q416_event_cooccurrence_lift",
    # staged wave 59 (plans/llm_ops58.py)
    "q417_simpson_reversal",
    "q418_user_effective_variety",
    "q419_peak_window_share",
    # staged wave 60 (plans/llm_ops59.py)
    "q420_fulfillment_trend",
    "q421_cdc_chunk_dedup",
    "q422_backlog_aging",
    # staged wave 61 (plans/llm_ops60.py)
    "q423_concentration_drift",
    "q424_alert_run_lengths",
    "q425_preagg_pushdown_equivalence",
    # staged wave 62 (plans/llm_ops61.py)
    "q426_dedup_winner_bias",
    "q427_retention_decay",
    "q428_change_contributors",
    # staged wave 63 (plans/llm_ops62.py)
    "q429_oov_rate",
    "q430_keyspace_holes",
    "q431_popularity_baseline_hitrate",
    # wave 64 (plans/llm_ops63.py, promoted r10)
    "q432_data_dictionary",
    "q433_tokenizer_fertility",
    "q434_effort_to_convert",
    # wave 65 (plans/llm_ops64.py, promoted r10)
    "q435_littles_law_flow_identity",
    "q436_systematic_sample_bias",
    "q437_temporal_integrity_audit",
    # wave 66 (plans/llm_ops65.py, promoted r11)
    "q438_variant_json_extraction",
    "q439_sql_udf_decomma_totals",
    # wave 67 (plans/llm_ops66.py, promoted r12)
    "q440_recursive_cte_amortization",
    "q441_pipe_syntax_pricing",
    "q442_listagg_ordered_csv",
    "q443_sql_scripting_threshold_search",
    # wave 68 (plans/llm_ops67.py, promoted r12)
    "q444_group_by_all_pricing",
    "q445_identifier_parameterized_scan",
    "q446_tablesample_repeatable_audit",
    "q447_observe_metrics_single_pass",
    "q448_hll_sketch_native_agg",
    "q449_try_arithmetic_safe_lane",
    # wave 69 (plans/llm_ops68.py, added r12)
    "q450_merge_upsert_idempotent",
    "q451_scd2_validity_intervals",
    # wave 70 (plans/llm_ops69.py, added r12)
    "q452_bitmap_exact_distinct",
    "q453_inverse_distribution_percentiles",
    "q454_luhn_checksum_validation",
    "q455_width_bucket_histogram",
    "q456_parse_url_components",
    # wave 71 (plans/llm_ops70.py, staged r13, promoted r14)
    "q457_regr_linear_family",
    "q458_str_to_map_kv_extraction",
    "q459_interval_date_arithmetic",
    "q460_array_mutation_functions",
    "q461_try_cast_quarantine",
    "q462_collated_case_insensitive_grouping",
    # wave 72 (plans/llm_ops71.py, staged r14, promoted r16)
    "q463_map_hof_family",
    "q464_timestamp_unit_arithmetic",
    "q465_convert_timezone_ntz",
    "q466_string_surgery",
    "q467_binary_encoding_bridges",
    "q468_bround_bit_family",
)


def _count_global_windows(plan: str) -> int:
    """Window nodes with an EMPTY partition spec in the final plan —
    the form that serializes its whole input frame onto a single task.

    Each window function prints `windowspecdefinition(part..., sort...
    ASC/DESC..., specifiedwindowframe(...))`: partition expressions
    come first WITHOUT an ASC/DESC marker, sort expressions carry one.
    A spec is unpartitioned iff every top-level argument before the
    frame is a sort expression (or there are none at all, e.g. a
    global count over an unordered unbounded frame).

    Sort expressions are recognized by their trailing direction token
    (`... ASC NULLS FIRST`), not substring containment, so a partition
    expression whose stringified form merely CONTAINS " ASC" (a column
    named `x ASC y`, a literal) cannot be misclassified. Unit-tested
    against known plan strings in tests/test_plan_properties.py.
    """

    sort_dir_re = re.compile(r" (?:ASC|DESC)(?: NULLS (?:FIRST|LAST))?$")

    def args_before_frame(spec: str) -> list[str]:
        depth = 0
        out, cur = [], []
        for ch in spec:
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        if cur:
            out.append("".join(cur).strip())
        return [a for a in out if not a.startswith("specifiedwindowframe")]

    n = 0
    for line in plan.splitlines():
        if not re.search(r"\bWindow \[", line):
            continue
        for m in re.finditer(r"windowspecdefinition\(", line):
            args = args_before_frame(line[m.end() :])
            if all(sort_dir_re.search(a) for a in args):
                n += 1
                break  # count the node once, not per window function
    return n


# Audited queries whose FINAL PLAN legitimately contains unpartitioned
# Window nodes, with the one-line frame-size justification (the source
# sites themselves carry `# global-window-ok:` annotations enforced by
# tests/test_plan_properties.py; this dict is the plan-level mirror so
# PLANS.md lists zero unexplained global windows). main() exits
# non-zero if an audited plan has one that is not justified here.
GLOBAL_WINDOW_JUSTIFIED: dict[str, str] = {
    "q166_zipf_slope": "100-row frame (rank applied after limit(100))",
    "q193_token_gini": (
        "vocab-grain rank; 100 TB form = repartitionByRange + "
        "per-partition offsets (SCALE.md)"
    ),
    "q214_token_budget_cut": "source-grain cumsum: |sources| rows",
    "q239_quality_budget_packing": (
        "corpus-grain quality cumsum; 100 TB form = two-pass "
        "distributed prefix sum (SCALE.md q239)"
    ),
    "q245_rrf_hybrid_retrieval": (
        "candidate/corpus rank, depth-capped to 100; 100 TB form = "
        "per-query top-k (TakeOrdered)"
    ),
    "q267_histogram_quantile_error": "256-bin histogram cumsum (reduced frame)",
    "q270_curriculum_interleave_plan": "distinct-source dense_rank: tens of rows",
    "q281_source_coverage_curve": "source-grain rank: |sources| rows",
    "q285_waterfill_token_allocation": "source-grain rank: |sources| rows",
    "q290_quantile_stability_bootstrap": (
        "256-bin histogram cumsum (reduced frame; q267 doctrine)"
    ),
    "q303_kaplan_meier_conversion": "day-grain survival cumsum: |days| rows",
    "q311_greedy_source_selection": "3-row greedy-pick frame",
    "q315_join_order_cost_audit": "4-row join-plan frame",
    "q318_hill_tail_index": "bounded frame: rank after limit(k_max+1)",
    "q319_follow_leader_regret": (
        "bounded: rank after limit(k_max+1) + day-grain regret cumsum"
    ),
    "q323_gains_curve": (
        "user-grain rank + 10-row decile cumsum; 100 TB form = "
        "repartitionByRange + per-partition offsets (SCALE.md)"
    ),
    "q324_ks_two_sample": "bin-grain cumsum: bounded histogram bins",
    "q325_mann_whitney_binned": "bin-grain cumsum: bounded histogram bins",
    "q326_bh_fdr_control": "event-type-grain p-value rank: a handful of rows",
    "q328_jackknife_ratio_dispersion": "day-grain leave-one-out sums: |days| rows",
    "q329_isotonic_calibration": (
        "user-grain rank; 100 TB form = repartitionByRange + "
        "per-partition offsets (SCALE.md)"
    ),
    "q330_reliability_ece": (
        "user-grain rank; 100 TB form = repartitionByRange + "
        "per-partition offsets (SCALE.md)"
    ),
    "q332_retrieval_ndcg_audit": (
        "query-term candidate rank, top-20 consumed; 100 TB form = "
        "per-query top-k"
    ),
    "q333_retrieval_precision_recall": (
        "query-term candidate rank; 100 TB form = per-query top-k"
    ),
    "q334_rank_correlation_kendall": (
        "query-term candidate rank + 20-row length rank after the "
        "top-20 filter"
    ),
    "q339_weighted_sample_aes": (
        "corpus-grain sample-key rank, top-50 consumed; 100 TB form = "
        "TakeOrdered top-k on the key"
    ),
    "q340_compaction_plan_audit": (
        "day-grain file frame (bounded rows/year); metadata-scale form "
        "= two-pass prefix sum"
    ),
    "q345_weighted_sample_merge_proof": (
        "the audited q339 global rank (top-50 consumed) + the 200-row "
        "merged-candidate rank; 100 TB form = TakeOrdered"
    ),
    "q349_randomized_response_debias": (
        "distinct-event-type index rank: a handful of rows"
    ),
    "q354_runs_test_assignment": (
        "day-grain boundary-stitch lag: |days| rows after the per-day "
        "rollup (the heavy lag is day-partitioned)"
    ),
    "q360_wilcoxon_signed_rank": (
        "midrank cumsum over distinct |diff| values of a day-grain "
        "frame: O(days) rows"
    ),
    "q363_sprt_early_stopping": "day-grain LLR cumsum: O(days) rows",
    "q365_apportioned_eval_sample": (
        "|langs|-row remainder rank (the draw rank is lang-partitioned)"
    ),
    "q388_topk_leaderboard_churn": (
        "rank over the already-LIMITed 20-row leaderboard frames"
    ),
    "q393_growth_decomposition": "month-grain lag: O(months) rows",
    "q396_pareto_skyline": (
        "bucket-grain prefix MIN: tens of rows (the per-price sweep is "
        "bucket-partitioned)"
    ),
    "q397_range_split_points": (
        "key-bucket-grain cumulative: key-space/1024 rows (the key rank "
        "is boundary-bucket-local)"
    ),
    "q398_abc_classification": (
        "customer-grain descending revenue cumulative; 100 TB form = "
        "the q267 two-level bucket rank (docstring)"
    ),
    "q399_open_order_concurrency": (
        "endpoint/calendar day-grain running sum + forward fill: "
        "O(days) rows"
    ),
    "q407_ltv_curve": "age-week-grain cumulative: O(weeks) rows",
    "q408_equidepth_selectivity_error": (
        "coarse-bucket cumulative: 1024 rows (the value rank is "
        "boundary-bucket-local)"
    ),
    "q410_zipf_tail_fit": (
        "frequency-grain descending cumulative: distinct frequencies"
    ),
    "q411_decision_stump": "width-class cumulative: tens of rows",
    "q413_error_budget_burn": (
        "day-grain rolling 7-day sums: O(days) rows"
    ),
    "q420_fulfillment_trend": "month-grain frame: O(months) rows",
    "q423_concentration_drift": "month-grain frame: O(months) rows",
    "q427_retention_decay": (
        "offset-week lag + ratio-grain median rank: O(weeks) rows"
    ),
    "q430_keyspace_holes": (
        "bucket-grain boundary stitch: key-space/1024 rows (in-bucket "
        "gaps are bucket-partitioned)"
    ),
    "q434_effort_to_convert": (
        "median rank over converting-user grain: the 10^9-key form is "
        "the q267 two-level bucket rank (q398 doctrine)"
    ),
}


def audit_plan(plan: str) -> dict:
    return {
        "global_windows": _count_global_windows(plan),
        "exchanges": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        # >0 means a persisted intermediate serves multiple consumers:
        # the FileScan/exchange lines of its lineage repeat in the plan
        # TEXT per consumer but execute once (InMemoryRelation prints
        # its child plan), so scan/exchange counts above overstate.
        "cached_reads": len(re.findall(r"InMemoryTableScan", plan)),
        "joins": sorted(set(re.findall(r"(\w*Join\w*)\b", plan)) - {"Join"}),
        "scans": re.findall(r"FileScan parquet \[([^\]]*)\]", plan),
        # tolerate Spark's plan-string truncation (a long filter list may
        # lose its closing bracket to "...")
        "pushed": [m for m in re.findall(r"PushedFilters: \[([^\]\n]*)", plan) if m],
        "take_ordered": "TakeOrderedAndProject" in plan,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("explain_audit")
    specs = all_queries()

    unexplained: list[str] = []
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by tools/explain_audit.py at `{sf_dir}` (AQE final plans:",
        "each query is executed once, then the adaptively-finalized plan is",
        "inspected). Properties recorded: data-moving exchanges (shuffle),",
        "broadcast exchanges (shuffle-free small sides), join strategies,",
        "scan column pruning (ReadSchema), and filter pushdown.",
        "",
    ]
    for name in AUDITED:
        df = specs[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # finalize AQE
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit_plan(plan)
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            f"- shuffle exchanges: **{a['exchanges']}**, broadcast exchanges: "
            f"**{a['broadcasts']}**, TakeOrderedAndProject: {a['take_ordered']}"
        )
        if a["cached_reads"]:
            lines.append(
                f"- cached-intermediate reads: **{a['cached_reads']}** "
                "(the cached lineage's scan/exchange lines repeat in the "
                "plan text per consumer but execute ONCE)"
            )
        if a["joins"]:
            lines.append(f"- join operators: {', '.join(a['joins'])}")
        # collapse repeats: a persisted/checkpointed lineage prints its
        # scan line once PER CONSUMER in the plan text — the count is
        # still informative, the repetition is not
        def _dedup(items):
            seen: dict[str, int] = {}
            for it in items:
                seen[it] = seen.get(it, 0) + 1
            return seen.items()

        for scan, k in _dedup(
            ", ".join(c.split("#")[0] for c in s.split(","))
            for s in a["scans"]
        ):
            suffix = f" (x{k})" if k > 1 else ""
            lines.append(f"- scan reads only: `{scan}`{suffix}")
        for pf, k in _dedup(pf[:120] for pf in a["pushed"]):
            suffix = f" (x{k})" if k > 1 else ""
            lines.append(f"- pushed filters: `{pf}`{suffix}")
        if a["global_windows"]:
            reason = GLOBAL_WINDOW_JUSTIFIED.get(name)
            if reason is None:
                unexplained.append(name)
                reason = "UNEXPLAINED — justify in GLOBAL_WINDOW_JUSTIFIED"
            lines.append(
                f"- unpartitioned windows: **{a['global_windows']}** — {reason}"
            )
        lines.append("")
    with open(os.path.join(REPO_ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"PLANS.md written ({len(AUDITED)} queries audited)")
    if unexplained:
        print(
            "UNEXPLAINED global windows (add a justification or "
            f"partition the window): {unexplained}"
        )
        sys.exit(1)


if __name__ == "__main__":
    main()
