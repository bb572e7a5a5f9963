#!/usr/bin/env python3
"""Dump formatted physical plans for a representative query set into
EXPLAINS.md — the .explain("formatted") audit trail behind the
plan-shape tests: pushed filters, broadcast placements, partial
aggregates, TakeOrderedAndProject, and the absence of cartesian
products are all visible in one file without running anything.

Every plan goes through ``normalize_plan``, so a regeneration rewrites
only the sections whose plans changed."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e_commerce_data_engineering_spark.plans.registry import QUERIES, all_queries  # noqa: E402
from e_commerce_data_engineering_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")

AUDIT = [
    ("q01_pricing_summary", "partial+final hash aggregate around one exchange"),
    ("q05_region_nation_revenue", "broadcast dims around the fact join"),
    ("q15_topk_orders", "top-k as TakeOrderedAndProject, no global sort"),
    ("q59_forecast_change", "TPC-H Q6: every filter pushed to the parquet reader"),
    ("t09_similarity_join", "PPJoin prefix candidates: equi-join only"),
    ("d06_semdedup", "IVF cell equi-join, per-cell union-find, no cartesian"),
    ("t28_priority_sample", "weighted sampling as per-partition heaps"),
    ("g04_triangle_counts", "degree-oriented wedge join + closing-edge semi join"),
    ("t30_bm25_topk", "term filter below the first aggregate exchange"),
    ("e14_rolling_active_users", "sliding COUNT DISTINCT as exploded contributions"),
    ("q71_salted_skew_agg", "salted hot-key rollup: two HashAggregate+Exchange pairs"),
    ("s12_rrf_hybrid_rank", "RRF fusion of top-k-bounded lexical + vector lists"),
    ("g06_kcore_prune", "k-core peel rounds: node-keyed aggregates + LeftSemi restriction"),
    ("x08_histogram_quantiles", "histogram sketch: fact-table agg, window only over 256 bins"),
    ("t40_dup_spans", "span dedup: anchored shingle semi join, diagonal-island windows"),
    ("s15_portable_ivfpq_topk", "IVFADC: cell equi-join probes, broadcast LUT, integer ADC sum"),
    ("d14_lsh_scurve", "S-curve ground truth: rare-anchor semi join, band equi-join catch check"),
    ("e26_watermark_sizing", "lateness window + broadcast 4-row delay grid, one counting pass"),
    # round-7 additions: the round-6 queries whose docstrings make
    # bounded-window/broadcast claims now carry committed plan evidence
    ("q74_rolling_corr", "calendar-bounded RANGE frames, partitioned by month grid"),
    ("q76_revenue_deciles", "Lorenz deciles without a global ntile: broadcast fences, map-side decile assign"),
    ("q77_theil_sen_trend", "pairwise median slope on the broadcast 83-row monthly aggregate"),
    ("t47_js_source_divergence", "JS drift: shared-token inner join (no vocab broadcast), ln2 folding, quantized BIGINT terms"),
    ("x10_ams_f2", "AMS F2: 9 sign-folds over distinct tokens, map-side combined to 9 integers"),
    ("m08_image_neardup_pairs", "ahash banding: 4x16-bit band equi-join, exact Hamming verify, no all-pairs"),
    # round-7 additions
    ("s17_rerank_shortlist", "two-stage ANN: ADC shortlist joins, exact cosine only on candidates"),
    ("g07_link_prediction", "df-capped wedge equi-join on part key, broadcast degree joins, TakeOrdered"),
    ("t48_pmi_cooccurrence", "PMI pairs via array self-zips: no per-doc window, one count shuffle"),
    ("q78_compaction_bins", "segment-manifest planning window above a partial-agg fact rollup"),
    # round-7 late additions
    ("q80_wilson_return_rate", "supplier-grain partial agg, broadcast name join, TakeOrdered cut"),
    ("q81_ols_price_model", "joinless OLS: one map + one all-to-one moment aggregate"),
    ("g08_label_communities", "LPA rounds: edge equi-joins + node-keyed ROW_NUMBER argmax windows"),
    ("d17_prefix_subsumed", "prefix containment rides the 32-char block equi-join"),
    ("e33_gini_activity", "Gini window over the count-value histogram, partitioned by event type"),
    ("t51_token_entropy", "entropy as two rollups on (source,token) counts, no vocab broadcast"),
    ("s19_pq_distortion", "shared PQ encode stage (broadcast codebook), audit at (m,code) grain"),
    ("q82_neyman_allocation", "stratum rollup first; apportionment windows over 25 rows"),
    ("t52_simpson_diversity", "exact-rational diversity: two rollups, no window, no ln"),
    ("t53_llr_keywords", "per-row G2 on exact counts; source-keyed top-k window"),
    ("g09_degree_assortativity", "degree equi-joins + all-to-one exact moments, no window"),
    ("q83_price_index", "partkey-co-partitioned year self-join, quantized value terms"),
    ("q84_km_repeat_purchase", "custkey-keyed ranking; KM windows over the day grid"),
    ("e34_autocorrelation", "gap-safe day-index self-join of the daily frame; no window"),
    ("q85_cohort_ltv", "cohort-keyed cumulative window over the (cohort,age) grid"),
    ("t54_token_burstiness", "two count rollups + TakeOrdered cut, exact moments"),
    ("s20_ivf_balance", "broadcast-centroid assignment collapsing to nlist rows"),
    ("x12_count_sketch", "vocab-side signed grid fold; broadcast grid probe"),
    ("q86_price_elasticity", "broadcast dim join + one brand-grain moment rollup"),
    ("e35_markov_entropy_rate", "LAG+count matrix; states^2 broadcast chain"),
    ("q87_abc_classes", "rank-block Pareto: windows over the revenue-block histogram"),
    ("q88_spend_band_migration", "custkey year self-join, literal band CASE, no window"),
    ("q89_weibull_reorder", "log-log OLS on the shared KM day grid, one moment agg"),
    ("g10_rich_club", "edge-degree equi-join x broadcast threshold grid, counts only"),
    ("m09_audio_neardup_pairs", "narrow-map STFT landmarks; fp_hash equi-join pairs"),
    ("t55_dedup_waterfall", "three sequenced keeper rules; anti-joins, no cross-stage pairs"),
    ("x13_linear_counting", "distinct (source,bucket) bitmap rollup, one ln"),
    ("e36_session_affinity", "sessionize windows; per-session type self-join, broadcast totals"),
    ("q90_supplier_hhi", "share-squaring identity: all-integer until two report divisions"),
    ("e37_kruskal_wallis", "calendar-bounded rank windows; quantized 7-group rank terms"),
    ("e38_peak_days", "gap-safe neighbour equi-joins; pure-integer prominence gate"),
    ("t56_bpe_merges", "vocab-side pair counts; broadcast merge rule; top-1 TakeOrdered"),
    ("s21_adc_rank_correlation", "shared ADC stage; exact-int Spearman on shortlist grain"),
    ("q91_mann_whitney", "midranks off the cent-value grid; single-row U/z arithmetic"),
    # round-8 additions
    ("m10_portable_audio_pairs", "portable landmark hashes: df-capped fp_hash equi-join, never all-pairs"),
    ("t57_bpe_apply", "vocab-grain encode, broadcast merge rules, (source,token) rollup"),
    ("d18_minhash_band_tuning", "df-bounded ground-truth pairs x broadcast 6-config grid, one 6-group agg"),
    ("s22_ann_frontier", "shared IVFADC stages x broadcast probe/shortlist grids; BNLJ dominance on 9 rows"),
    ("g11_bipartite_projection", "basket-capped customer equi-join pair stage, part-grain degree joins, TakeOrdered"),
    ("x14_theta_sketch_diff", "K-row sketches x broadcast type-pair grid; audience-grain exact companion"),
    ("q93_order_gap_percentiles", "cumulative window rides the (segment, gap-value) grid, never the population"),
    ("t59_kneedle_threshold", "integer argmax over the value grid; top-1 per source"),
    # round-8 late additions
    ("g12_harmonic_centrality", "one BFS-unroll equi-join + direct-edge anti-join; integer rank key, TakeOrdered"),
    ("s23_embedding_anisotropy", "dim-grain moment fold; DECIMAL(38,0) variance squares; single-row output"),
    ("d19_cross_source_dup_matrix", "fingerprint equi-join pair stage; per-source rollups broadcast back"),
    ("t62_dedup_survivorship", "shared t55 chain; fate labels as doc_id equi-joins; 4-row rollup"),
    ("q96_seasonal_decompose", "month-grain 13-offset self-join; exact int trend*24; 12-row rollup"),
    # round-8 continuation
    ("t63_winnowing_fingerprints", "winnowing entirely in per-row HOFs: zero Exchange in the plan"),
    ("t64_perplexity_buckets", "shared bigram LM; tercile fences broadcast as a 1-row frame"),
    ("q97_bootstrap_ci", "x32 replicate fan-out absorbed by partial agg; shuffle = segments x reps"),
    ("g13_hits_scores", "two unrolled HITS rounds as edge equi-joins; TakeOrdered before rank window"),
    ("s24_label_silhouette", "centroids broadcast; scoring on the dim equi-join, labels-x-vec grain"),
    ("q98_seasonal_anomaly", "q96 detrend stages reused; median/MAD fences broadcast scalar frames"),
    ("d20_winnowing_pairs", "MOSS pair stage: df-capped fingerprint equi-join, never all-pairs"),
    ("s25_top_component", "Gram via per-row outer products into a 4096-key aggregate; no vector join"),
    ("a04_asof_nearest", "nearest as-of: both directional picks on ONE union+window shuffle"),
    ("t65_rake_keywords", "RAKE: doc-keyed phrase windows, word-grain stats, TakeOrdered top-k"),
    ("t66_readability", "Flesch-Kincaid entirely per-row: regex + HOF folds, zero Exchange"),
    ("s26_abtt_retrieval_shift", "ABTT via the projection identity: two scalars per vector, s02-shaped scoring"),
    ("q99_concentration_ratios", "CR-k on the customer-grain rollup: one fact rollup, segment-bounded window"),
    # round-9 additions
    ("q100_kendall_tau", "pair masses off the 11x50 value grid; 550^2 cell self-join, DECIMAL(38,0) sums"),
    ("q101_pettitt_changepoint", "rank identity kills the O(n^2) sign sum; windows walk the day grid only"),
    ("q102_runs_test", "integer median fence + one lag over the day grid; moments from n1/n2 margins"),
    ("q103_safety_stock", "(brand,week) rollup with map-side combine; P95 fence on the demand value grid"),
    ("e43_bh_fdr", "x16 A/A fan-out folds to expts x 2 by partial agg; BH window ranks 16 rows"),
    ("s27_mmr_rerank", "shortlist repartitioned q_id-wise once; unrolled greedy picks persist per step"),
    ("s28_participation_ratio", "dim-grain moment fold; exact-integer variances; single-row output"),
    ("t67_kneser_ney", "bigram/context counts on the vocab grain; continuation mass via distinct-context rollup"),
    ("t68_yule_k", "one explode + one vocab-grain shuffle; 20 output rows, doubles only at display"),
    ("x15_sample_quantiles", "one rollup carries both counters; window walks the dollar grid; 5 rows"),
    ("d21_dedup_consensus", "three banded/blocked pair stages unioned at pair grain; <=7-row rollup"),
    ("q105_wasserstein_drift", "(year,dollar) rollup + broadcast pair fan-out; DECIMAL(38,0) CDF-gap sums"),
    ("s29_mmr_diversity_gain", "reuses s27's persisted frames; broadcast set-membership joins; 5 rows"),
    ("q106_woe_return_risk", "fact-dim broadcast join into 25-key rollup; totals broadcast back"),
    ("q107_did_return_rate", "4-cell rollup with map-side combine; 1-row pivot after the scan"),
    ("t69_burrows_delta", "(source,token) rollup once; top-30 panel broadcast; sources^2 x 30 pair terms"),
    ("m11_image_dhash", "shuffle-free Arrow narrow map; real PNG decode; one 64-bit row per image"),
    ("x16_priority_sample_totals", "rank window on the slice key; everything past rn<=k+1 is k-row bounded"),
    ("q108_icc_customer", "one customer-grain rollup with map-side combine; single-row fold, no window"),
    ("q109_theil_inequality", "customer rollup + 5-row segment broadcast term pass; wide-decimal micro-sums"),
    ("q110_fill_rate", "q103's grid replayed cell-wise; fences broadcast; 25 rows, no week-grain pass"),
    ("e45_orphan_conversions", "user-keyed LEFT ANTI with time-range residual; never a time cross join"),
    ("t71_lm_quality_agreement", "persisted KN doc stage feeds fences + buckets; grids bounded, 1 row out"),
    ("x17_cms_join_size", "two fixed 3x272 sketch grids replace the user-grain join; bucket-wise dot"),
    # round-10 additions
    ("m12_image_phash", "DCT-II as a fixed 64-term literal basis; shuffle-free Arrow map, 64 bits/image"),
    ("m13_phash_neardup_pairs", "pigeonhole 4x16-bit band equi-join on pHash; exact Hamming verify only on candidates"),
    ("x18_cms_broadcast_decision", "two CMS grids fold to one join-size estimate; the decision row is sketch-only"),
    ("q111_page_hinkley", "exact-integer PH statistic; running-min windows walk the day grid only"),
    ("q112_mann_kendall_trend", "S from integer midrank identities on the day grid; no pairwise day join"),
    ("q113_turning_points", "two lags over the day grid; peak/trough counts fold to one row"),
    ("q114_jarque_bera", "central moments via one raw-moment fold; wide-decimal sums, 1 row out"),
    ("q115_eoq_policy", "brand-grain demand rollup; EOQ formula on the 25-row frame, no window"),
    ("t72_vocab_richness", "one (source,token) count shuffle; hapax/dis-legomena flags fold map-side"),
    ("t73_charset_anomaly_screen", "per-row charclass lengths; 1-row moment broadcast; exact-int 2-sigma fence"),
    ("t74_char_bigram_entropy", "per-row substr explode, alphabet^2-keyed counts; chain-rule H1 from same frame"),
    ("e46_session_type_entropy", "e03's lag+cumsum session windows; quantized entropy on (session,type) grain"),
    ("s30_rank_biased_overlap", "one scored frame, two rank windows; suffix-weight lookup kills the depth explode"),
    ("s31_query_likelihood", "candidates x 3-term grid left-joins exact tf; integer sort, TakeOrdered cut"),
    ("d22_tfidf_cosine_pairs", "df-banded posting join; integer dot/norm sums; division only per surviving pair"),
    ("g14_triangle_support", "g04's oriented wedge join; triangle edges exploded, histogram is support-bounded"),
    ("q116_spearman_rho", "midranks off grid-margin windows; five wide-decimal moment sums, 3 rows out"),
    ("q117_cramers_v", "15-cell contingency rollup; wide-decimal chi2 terms; effect sizes on 1 row"),
    ("q118_newsvendor_cost", "q103's grid with a cost fractile; exact n-scaled overage/underage grading"),
    ("e47_intersession_gaps", "session-bound windows; exact-ms excess gaps; 5-bucket model calibration"),
    ("s32_lexical_rbo", "two TakeOrdered ranker plans joined at <=20 rows; integer suffix-weight RBO"),
    ("g15_truss_peel", "two unrolled support rounds on checkpointed edge frames; counts off the support frames"),
    ("m14_shot_boundaries", "narrow Arrow decode map; asset-keyed lag window; asset-grain cut rollup"),
    ("q119_ses_forecast", "SES recursion as a 32-lag band join over the week grid; integer kernel literals"),
    ("q120_brown_forsythe", "median fence on the (segment,dollar) grid; exact z-moment rollups; 1-row F"),
    ("q121_abc_xyz", "two brand-grain rollups, broadcast dim; rank windows on the 25-row frame"),
    ("q122_intermittency_profile", "(part,day) rollup with map-side combine; exact-int class fences; 4-row out"),
    ("t75_uncertainty_coefficient", "one ~100-cell grid; three quantized entropy folds combine in integer space"),
    ("q123_seasonal_mann_kendall", "84-cell (year,month) grid; same-month pair join only; exact-int S and Var"),
    ("d23_weighted_dedup_agreement", "two banded pair stages unioned at pair grain; <=3-row membership rollup"),
    ("x20_cms_error_envelope", "one stream-sized grid fold; vocab-sized probe join; 1-row envelope audit"),
    ("t76_lang_bigram_distance", "alphabet^2-bounded count table; shared-bigram inner join; 10-pair rollup"),
    ("q124_xbar_control_chart", "daily rollup; week-grid subgroups; broadcast 1-row limit frame; 1 row out"),
    ("x21_theta_intersection", "K-row union sketches per type pair; flagged-fraction estimator; exact audit beside"),
    # round-11 additions
    ("x22_cms_steered_join_audit", "sketch-steered joins: CMS count picks broadcast vs shuffle at plan-build time"),
    ("m15_image_entropy", "decode-only Arrow map; (asset, <=256 bin) histogram shuffle; quantized entropy fold"),
    ("q125_benford_second_digit", "exact-cents digit projection; one 10-group aggregate; shared-literal expectations"),
    ("e48_ljung_box", "gap-safe lag equi-join on the daily frame; exact int64 centered moments; no window"),
    ("s33_norm_pruned_topk", "max-norm block index prunes whole blocks; exact dots only on survivors; TakeOrdered-free windows"),
    ("g16_clustering_coefficient", "g04's oriented wedge join reused; left-join zero-triangle nodes; degree-grain rollup"),
    ("q127_croston_forecast", "occurrence-grid band join carries BOTH Croston series; one (brand,day) rollup is data-sized"),
    ("e49_retention_decay", "censoring-guarded offset pooling; exact int64 OLS moments; 1-row fit"),
    # round-12 additions
    ("g17_personalized_pagerank", "RWR step = one edge join + one aggregate; restart mass via UNION+re-agg, never full-outer"),
    ("t77_zipf_slope", "one token aggregate; per-source top-R window; closed-form OLS on integer moments"),
    ("e50_hazard_rate", "e03's two sessionization windows; >= join runs on the LENGTH HISTOGRAM, never sessions"),
    ("x23_linear_counting", "four map-side-combinable countDistinct-of-bucket aggregates; bitmap is m ints of state"),
    ("d24_containment_pairs", "shared anchored-pair scratch frames; integer 5*ni>=4*n threshold; pair-grain arithmetic"),
    ("s34_idf_soft_jaccard", "vocab-sized idf table; pair-grain intersect explode; inclusion-exclusion union mass"),
    ("m16_audio_rms_zcr", "shuffle-free Arrow decode map; six integer moments per asset; no exchange anywhere"),
    ("q129_steered_nation_volume", "q36's Q7 shape; supplier join strategy picked by the CMS grid, hash-gated vs q36's oracle"),
    ("t78_heaps_shingle_growth", "first-occurrence min-aggregate over type postings; one doc-grain cumulative window; closed-form fit"),
    ("e51_markov_transitions", "one LEAD window over user-clustered events; types^2 aggregate; broadcast row totals"),
    ("q130_rfm_segments", "ONE orders scan; customer-grain aggregate; three NTILE windows over the customer frame"),
    ("x24_bloom_prefilter", "bit-position frame broadcast beside the probe; k equi-joins, countDistinct(i)=k membership"),
    ("m17_jpeg_qtable_readback", "header-only DQT parse in a narrow Arrow map; 2-group digest rollup; no pixel decode"),
    ("s35_lsh_bits_tuning", "broadcast-probe angle scan; 4-row config broadcast; squaring-chain collision law; 4-group rollup"),
    ("e52_funnel_conversion", "per-stage min-aggregate + user-grain equi-join; event-type filters pushed to parquet"),
    ("q131_stratified_split", "join-free split: int64 hash arithmetic in the scan projection; one groupBy + tiny window"),
    ("t79_concat_chunk_packing", "one per-source window cumsum (the packer's own sort); integer chunk arithmetic; one groupBy"),
    ("g18_core_decomposition", "ascending-k peel: per-level degree groupBy + two LeftSemi restrictions on the cached edge frame"),
    ("q132_scd2_priority_runs", "lag-flag and island-cumsum windows share ONE customer-keyed sort; run grain never leaves the shuffle"),
    ("s36_sq_bits_recall", "element-grain scoring; broadcast 128-row grid + 320-row probe frames; integer ADC sums; no cartesian"),
    ("m18_audio_silence_runs", "decode-only Arrow map to sample grain; islands window partitions per asset; run grain collapses at once"),
    ("q133_zorder_file_skipping", "zorder_value interleave in the projection; two layout sorts; file-grain stats x 3-row probe broadcast"),
    ("g19_community_modularity", "g08 LPA rounds + two node-keyed label joins on cached frames; 1e-12-quantized per-community Q terms"),
    ("d25_symspell_blocking_recall", "deletion-variant equi-join (complete lev<=1 candidates); levenshtein verify; 1-row recall audit"),
    ("e53_position_attribution", "path segmentation on the e03/e21 user-keyed sort; user+path equi-join credits; micro-dollar integer sums"),
    ("m19_asset_integrity", "two shuffle-free narrow Arrow maps (corrupt -> verify); tiny (fmt, verdict) rollup"),
]


# Run-dependent plan tokens: Spark's expression ids (``l_orderkey#8L``),
# exchange ids (``[plan_id=15]``) and the frame tier's per-process
# scratch entries (``<tempdir>/spark_graft_frames_<random>/<md5 of a key
# holding the application id>``).
_VOLATILE = (
    (re.compile(r"#(\d+)"), "#{}"),
    (re.compile(r"plan_id=(\d+)"), "plan_id={}"),
    (re.compile(r"/\S*?spark_graft_frames_[^/\s]+/([0-9a-f]{32})"), "<frame tier>/{}"),
)


def normalize_plan(plan: str) -> str:
    """Renumber each run-dependent token kind 1, 2, ... in order of
    first appearance, so equal plans print equal text in every run and
    references between nodes still line up."""
    for pattern, fmt in _VOLATILE:
        ids: dict[str, int] = {}
        plan = pattern.sub(lambda m: fmt.format(ids.setdefault(m.group(1), len(ids) + 1)), plan)
    return plan


def _plan_lines(df, max_node: int) -> list[str]:
    """The normalized formatted plan: the tree plus the details of
    nodes up to ``max_node``, then a truncation note."""
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    lines = normalize_plan(plan).splitlines()
    for i, l in enumerate(lines):
        if i > 0 and l.startswith("(") and int(l.split(")")[0][1:] or 0) > max_node:
            lines = lines[:i]
            break
    return lines + ["… (details truncated; run the tool for the full dump)"]


def main() -> None:
    # fixed parallelism: every Exchange prints its partition count, which
    # must not follow the machine's SPARK_GRAFT_CPUS
    spark = get_spark(app_name="explain-audit", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out = [
        "# EXPLAINS — formatted physical plans (generated by tools/explain_audit.py)",
        "",
        f"Plans at `{SF}`; regenerate with `python tools/explain_audit.py`.",
        "Each plan is the evidence behind a tests/test_plan_shapes.py assertion.",
        "",
    ]
    for name, why in AUDIT:
        out += [f"## {name}", "", f"_{why} ({QUERIES[name].doc[:120]}...)_", "", "```"]
        out += _plan_lines(qs[name](spark, SF), 12) + ["```", ""]

    # cms_steered_join (operators/sketch.py): BOTH physical shapes under a
    # statistics-free planner (auto-broadcast off — the scenario the sketch
    # decision exists for). Evidence behind
    # tests/test_plan_shapes.py::test_cms_steered_join_flips_physical_plan.
    from pyspark.sql import functions as F  # noqa: E402

    from e_commerce_data_engineering_spark.operators.sketch import (  # noqa: E402
        cms_steered_join,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table  # noqa: E402

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    cust = load_table(spark, SF, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("n_nationkey")
    )
    n_build = nation.count()
    for label, thresh in (
        ("broadcast (sketch count fits threshold)", n_build * 128),
        ("shuffle (sketch count over threshold)", n_build * 128 - 1),
    ):
        df = cms_steered_join(cust, nation, "n_nationkey", threshold_bytes=thresh)
        out += [
            f"## cms_steered_join — {label}",
            "",
            "_CMS-recovered build-side count picks the join strategy at plan-build"
            " time; auto-broadcast disabled so the sketch decision is the ONLY"
            " thing steering the plan (VERDICT r10 #4)._",
            "",
            "```",
        ]
        out += _plan_lines(df, 8) + ["```", ""]
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.enabled")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAINS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAINS.md ({len(AUDIT)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
