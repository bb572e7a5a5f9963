"""Query registry: the single source of truth behind
``__spark_entry__.queries()`` / ``oracle_sql()``.

Each entry couples a Spark builder ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI-SQL oracle string DuckDB runs over the same parquet.
The driver hash-compares the two (row-count + schema + order-insensitive
value-hash), so:

* every computed column is aliased identically on both sides;
* double aggregates are rounded (2dp for money sums, 4dp for avgs) on
  BOTH sides so sum-order float jitter cannot flip the hash — Spark
  ``F.round`` and DuckDB ``ROUND`` are both HALF-AWAY-FROM-ZERO on
  doubles, so they agree bit-for-bit after rounding;
* DuckDB integer SUMs are CAST to BIGINT (DuckDB widens to HUGEINT,
  Spark keeps bigint);
* top-k queries carry a unique tiebreak key in the ORDER BY.

Queries tagged ``oracle=None`` are non-SQL-expressible (streaming
state, seeded generation, LSH banding); the driver records the weaker
rows-only check for them.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, Query] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    """Decorator registering a Spark query builder with its oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = Query(name=name, spark_fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load_all_modules() -> None:
    # Import side-effect registers every query module exactly once.
    from . import core  # noqa: F401
    from . import reference  # noqa: F401
    from . import events  # noqa: F401
    from . import text  # noqa: F401
    from . import text_stats  # noqa: F401
    from . import similarity  # noqa: F401
    from . import advanced  # noqa: F401
    from . import scalar_batteries  # noqa: F401
    from . import extended  # noqa: F401
    from . import graph_sketch  # noqa: F401
    from . import tpch_extra  # noqa: F401
    from . import tpch_stats  # noqa: F401
    from . import round12  # noqa: F401
    from . import round12b  # noqa: F401


# Iteration order of all_queries()/all_oracles() is a FIXED, COMMITTED
# constant (round 3's version computed it at import time from
# CORRECTNESS_r*.json artifacts at the repo root, which made the public
# API order depend on untracked local files — removed per round-3
# ADVICE). The driver's per-round correctness sweep records roughly the
# FIRST 50 names of this enumeration, so the rotation policy is:
# queries that have never appeared in a driver CORRECTNESS record come
# first (oracle-backed before rows-only), new additions for the current
# round next, and names with an official record behind them. The list
# is edited (rotated) once per round as a committed change — never
# derived from driver artifacts at import time. Consumers that care
# about specific entries look them up by name; the order only affects
# enumeration.
#
# REGRESSION GATE for rotated-out queries: once a name moves past the
# driver's ~50-entry sweep window its external record is frozen, so the
# per-round LOCAL full-inventory verify (every queries() entry vs its
# DuckDB oracle at sf0.01 — the recipe in .claude/skills/verify/
# SKILL.md) is the gate that would catch a regression in an
# already-recorded query. Run it every round; the driver only re-checks
# the front of this list.
_PRIORITY: tuple[str, ...] = (
    # --- round-13 front block (r12 verdict #9): d18/s29 were plan-
    # changed in round 12 (scratch-tier frames) but missed the r12
    # 50-entry correctness sample — officially re-record them first.
    "d18_minhash_band_tuning",
    "s29_mmr_diversity_gain",
    # Plan-changed THIS round (r13 optimizations — array-carry verify
    # for d24/s34, bucket-grain x23 rollup, tiered x12/s13 frames, x18
    # left-join degenerate parity, PPJoin ordered-frame key change for
    # t05/t09): re-record officially.
    "d24_containment_pairs",
    "s34_idf_soft_jaccard",
    "x23_linear_counting",
    "x12_count_sketch",
    "s13_mrl_truncation_recall",
    "x18_cms_broadcast_decision",
    "t05_ngram_jaccard_pairs",
    "t09_similarity_join",
    # d21/d14/d09 share the dedup frame machinery the r13 changes
    # touch (postings tier; lsh_pairs output-tier removal): re-record.
    "d21_dedup_consensus",
    "d14_lsh_scurve",
    "d09_portable_minhash_pairs",
    # --- round-12 front block: never-driver-recorded additions go
    # here, oracle-backed before rows-only. CORRECTNESS_r11 recorded
    # all 8 round-11 names + the s26/d21 re-records + 40 rotations
    # (cumulative driver record through r11: 49/50 hash-pass, m14
    # no_oracle by design), so the front is clear for round-12.
    # (round-12 additions land here)
    "q131_stratified_split",
    "t79_concat_chunk_packing",
    "g18_core_decomposition",
    "q132_scd2_priority_runs",
    "s36_sq_bits_recall",
    "m18_audio_silence_runs",
    "q133_zorder_file_skipping",
    "g19_community_modularity",
    "d25_symspell_blocking_recall",
    "e53_position_attribution",
    "m19_asset_integrity",
    "g17_personalized_pagerank",
    "t77_zipf_slope",
    "e50_hazard_rate",
    "d24_containment_pairs",
    "m16_audio_rms_zcr",
    "s34_idf_soft_jaccard",
    "q129_steered_nation_volume",
    "x23_linear_counting",
    "t78_heaps_shingle_growth",
    "e51_markov_transitions",
    "q130_rfm_segments",
    "x24_bloom_prefilter",
    "m17_jpeg_qtable_readback",
    "s35_lsh_bits_tuning",
    "e52_funnel_conversion",
    # Plan-changed this round (VERDICT r11 #1b): the shared token/
    # shingle/signature frames now write-through to scratch parquet
    # (the frames.tier disk tier), so every d-family consumer's
    # physical plan changed (values unchanged). Re-record officially,
    # bench tails first.
    "d18_minhash_band_tuning",
    "d21_dedup_consensus",
    "d09_portable_minhash_pairs",
    "d14_lsh_scurve",
    "d15_minhash_estimator_calibration",
    "d20_winnowing_pairs",
    "d10_portable_simhash_pairs",
    "d01_minhash_lsh_pairs",
    "d02_simhash_pairs",
    "d05_cc_dedupe",
    # s27/s29: the shared MMR frames moved onto the same scratch-
    # parquet tier (VERDICT r11 #3 — s29's 7-21 s solo band was
    # duplicate concurrent materialization of the shared persists;
    # ~1.8 s steady after). Values unchanged; re-record officially.
    "s29_mmr_diversity_gain",
    "s27_mmr_rerank",
    # --- already driver-recorded: round-11 block (all 8 + s26/d21
    # re-records in CORRECTNESS_r11), youngest first.
    "x22_cms_steered_join_audit",
    "m15_image_entropy",
    "q125_benford_second_digit",
    "e48_ljung_box",
    "s33_norm_pruned_topk",
    "g16_clustering_coefficient",
    "q127_croston_forecast",
    "e49_retention_decay",
    "s26_abtt_retrieval_shift",
    # --- round-10 block (all 34 + q100/q101 recorded in
    # CORRECTNESS_r10), youngest first.
    "m12_image_phash",
    "m13_phash_neardup_pairs",
    "q111_page_hinkley",
    "q112_mann_kendall_trend",
    "q113_turning_points",
    "q114_jarque_bera",
    "q115_eoq_policy",
    "t72_vocab_richness",
    "t73_charset_anomaly_screen",
    "t74_char_bigram_entropy",
    "e46_session_type_entropy",
    "s30_rank_biased_overlap",
    "s31_query_likelihood",
    "d22_tfidf_cosine_pairs",
    "x18_cms_broadcast_decision",
    "g14_triangle_support",
    "q116_spearman_rho",
    "q117_cramers_v",
    "q118_newsvendor_cost",
    "e47_intersession_gaps",
    "s32_lexical_rbo",
    "g15_truss_peel",
    "m14_shot_boundaries",
    "q119_ses_forecast",
    "q120_brown_forsythe",
    "q121_abc_xyz",
    "q122_intermittency_profile",
    "t75_uncertainty_coefficient",
    "q123_seasonal_mann_kendall",
    "d23_weighted_dedup_agreement",
    "x20_cms_error_envelope",
    "t76_lang_bigram_distance",
    "q124_xbar_control_chart",
    "x21_theta_intersection",
    "q100_kendall_tau",
    "q101_pettitt_changepoint",
    # --- already driver-recorded: round-9 block (all 25 recorded in
    # CORRECTNESS_r09, incl. the long-missing q91), youngest first.
    "q91_mann_whitney",
    "q102_runs_test",
    "q103_safety_stock",
    "e43_bh_fdr",
    "s27_mmr_rerank",
    "s28_participation_ratio",
    "t67_kneser_ney",
    "t68_yule_k",
    "x15_sample_quantiles",
    "q105_wasserstein_drift",
    "s29_mmr_diversity_gain",
    "q106_woe_return_risk",
    "q107_did_return_rate",
    "t69_burrows_delta",
    "m11_image_dhash",
    "x16_priority_sample_totals",
    "q108_icc_customer",
    "q109_theil_inequality",
    "q110_fill_rate",
    "e45_orphan_conversions",
    "t71_lm_quality_agreement",
    "x17_cms_join_size",
    # --- already driver-recorded: round-8 block (all 37 recorded in
    # CORRECTNESS_r08), youngest first.
    "t63_winnowing_fingerprints",
    "t64_perplexity_buckets",
    "q97_bootstrap_ci",
    "g13_hits_scores",
    "s24_label_silhouette",
    "q98_seasonal_anomaly",
    "d20_winnowing_pairs",
    "s25_top_component",
    "a04_asof_nearest",
    "t65_rake_keywords",
    "t66_readability",
    "q99_concentration_ratios",
    "m10_portable_audio_pairs",
    "t57_bpe_apply",
    "t60_cohens_kappa",
    "s23_embedding_anisotropy",
    "d19_cross_source_dup_matrix",
    "t61_ttr_by_length",
    "q96_seasonal_decompose",
    "t62_dedup_survivorship",
    "e41_dominant_period",
    "e42_fano_burstiness",
    "g12_harmonic_centrality",
    "q92_price_spread_ratio",
    "q93_order_gap_percentiles",
    "e39_transition_dwell",
    "t58_winsorized_quality",
    "d18_minhash_band_tuning",
    "s22_ann_frontier",
    "g11_bipartite_projection",
    "x14_theta_sketch_diff",
    "q94_priority_mix_shift",
    "e40_powerlaw_tail_fit",
    "t59_kneedle_threshold",
    "q95_holiday_lift",
    # --- already driver-recorded: round-7 block (all 47 recorded in
    # CORRECTNESS_r07), youngest first.
    "m08_image_neardup_pairs",
    "e30_markov_stationary",
    "t48_pmi_cooccurrence",
    "q78_compaction_bins",
    "g07_link_prediction",
    "s17_rerank_shortlist",
    "e31_regularity_screen",
    "t49_boilerplate_prefixes",
    "e32_funnel_latency",
    "d16_dedup_savings",
    "s18_rerank_recall",
    "t50_vocab_coverage",
    "x11_bloom_fpr_calibration",
    "q79_forecast_backtest",
    "q80_wilson_return_rate",
    "q81_ols_price_model",
    "g08_label_communities",
    "d17_prefix_subsumed",
    "e33_gini_activity",
    "t51_token_entropy",
    "s19_pq_distortion",
    "q82_neyman_allocation",
    "t52_simpson_diversity",
    "t53_llr_keywords",
    "g09_degree_assortativity",
    "q83_price_index",
    "q84_km_repeat_purchase",
    "e34_autocorrelation",
    "q85_cohort_ltv",
    "t54_token_burstiness",
    "s20_ivf_balance",
    "x12_count_sketch",
    "q86_price_elasticity",
    "e35_markov_entropy_rate",
    "q87_abc_classes",
    "q88_spend_band_migration",
    "q89_weibull_reorder",
    "g10_rich_club",
    "m09_audio_neardup_pairs",
    "t55_dedup_waterfall",
    "x13_linear_counting",
    "e36_session_affinity",
    "q90_supplier_hhi",
    "e37_kruskal_wallis",
    "e38_peak_days",
    "t56_bpe_merges",
    "s21_adc_rank_correlation",
    # --- already driver-recorded: round-6 block (r6 recorded these),
    # youngest first.
    "t45_novelty_decay",
    "q73_benford_audit",
    "m07_image_ahash",
    "x10_ams_f2",
    "t46_good_turing",
    "t47_js_source_divergence",
    "e28_funnel_steps",
    "e29_retention_cohorts",
    "q74_rolling_corr",
    "q75_mad_outlier_days",
    "q76_revenue_deciles",
    "q77_theil_sen_trend",
    # --- already driver-recorded: round-5 block (r5 recorded all 50
    # of these), youngest first.
    "d10_portable_simhash_pairs",
    "d11_fuzzy_name_pairs",
    "d12_semdedup_greedy",
    "d13_golden_record",
    "e15_trending_decay",
    "e16_variant_props",
    "e17_ewma_daily",
    "e18_transition_matrix",
    "e19_new_vs_returning",
    "e20_burst_users",
    "e21_last_touch_attribution",
    "e22_dow_seasonality",
    "e23_cusum_changepoint",
    "e24_ab_test",
    "e25_late_event_profile",
    "g05_clustering_coeff",
    "g06_kcore_prune",
    "m04_video_frame_sample",
    "q67_market_basket",
    "q68_rfm_segments",
    "q69_pivot_weekday",
    "q70_column_profile",
    "q71_salted_skew_agg",
    "s12_rrf_hybrid_rank",
    "s13_mrl_truncation_recall",
    "s14_filtered_cosine_topk",
    "t33_dup_cluster_histogram",
    "t34_lang_source_chi2",
    "t35_zipf_fit",
    "t36_langid_prf",
    "t37_ks_drift",
    "t38_quality_auc",
    "t39_calibration_bins",
    "t40_dup_spans",
    "t41_span_removal_stats",
    "x08_histogram_quantiles",
    "s11_ivfpq_topk",
    "s15_portable_ivfpq_topk",
    "m05_video_frame_luma",
    "s16_nprobe_recall_curve",
    "x09_kmv_intersection",
    "d14_lsh_scurve",
    "e26_watermark_sizing",
    "t42_token_waterfill",
    "d15_minhash_estimator_calibration",
    "m06_audio_spectral",
    "t43_decontaminate",
    "e27_interevent_gaps",
    "t44_heaps_fit",
    "q72_growth_streaks",
    # --- already driver-recorded (r1–r4), youngest families first.
    "x05_cms_portable",
    "g02_pagerank_two_steps",
    "s08_bucket_lsh_topk",
    "d08_bucketed_neardup_pairs",
    "t24_context_chunks",
    "t25_mixture_weights",
    "t26_chunk_dup_rate",
    "s09_int8_quantized_recall",
    "q60_returned_item_customers",
    "q61_shipping_delay_priority",
    "q62_top_revenue_supplier",
    "q63_supplier_part_relationship",
    "q64_small_quantity_revenue",
    "q65_large_volume_customers",
    "q66_excess_stock_suppliers",
    "d09_portable_minhash_pairs",
    "t27_dsir_weights",
    "x06_bloom_membership",
    "s10_pq_topk",
    "g03_cc_two_hop",
    "g04_triangle_counts",
    "x07_hll_portable",
    "t28_priority_sample",
    "t29_segment_dedup",
    "t30_bm25_topk",
    "t31_mixture_sample",
    "t32_source_overlap",
    "t12_token_budget_packing",
    "t13_repetition_stats",
    "t14_contamination_check",
    "t15_train_val_test_split",
    "t16_redaction_stats",
    "t17_top_bigrams",
    "t18_length_histogram",
    "t19_tfidf_terms",
    "t20_dup_ngram_rate",
    "t21_unigram_logprob",
    "t22_containment_pairs",
    "t23_bigram_logprob",
    "d06_semdedup",
    "d07_semdedup_recall",
    "g01_pagerank",
    "m03_image_resize_pipeline",
    "s04_lsh_cosine_topk",
    "s05_ivf_cosine_topk",
    "s07_kmeans_clusters",
    "x01_approx_distinct",
    "x02_approx_quantiles",
    "x03_hll_sketch_rollup",
    "x04_cms_heavy_hitters",
)

# FIRST occurrence wins (r13 fix): a re-record name placed in the
# front block usually still sits in an older block further down; the
# plain dict comprehension let the later (larger) index overwrite the
# front rank, which is exactly why the r12 front block's d18/s29
# re-records never reached the driver's 50-entry correctness sample.
_PRIORITY_RANK: dict[str, int] = {}
for _i, _name in enumerate(_PRIORITY):
    _PRIORITY_RANK.setdefault(_name, _i)


def _sweep_order(names) -> list[str]:
    return sorted(names, key=lambda n: (_PRIORITY_RANK.get(n, len(_PRIORITY)), n))


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all_modules()
    return {name: QUERIES[name].spark_fn for name in _sweep_order(QUERIES)}


def all_oracles() -> dict[str, str]:
    _load_all_modules()
    return {
        name: QUERIES[name].oracle
        for name in _sweep_order(QUERIES)
        if QUERIES[name].oracle is not None
    }
