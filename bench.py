#!/usr/bin/env python3
"""Benchmark harness: runs the headline query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints TWO JSON lines — first the full
per-query map (also written to BENCHLOG.json), then a compact (<1 KB)
summary as the FINAL line so a tail-capture of stdout always contains a
whole parseable record:

  {"metric": "headline_total_sec", "value": N, "unit": "sec",
   "headline_r3_subset_sec": M, "n_queries": K,
   "slowest10": {"d21_dedup_consensus": s, ...}, "sf": 0.1}

``headline_r3_subset_sec`` sums the FIXED 24-query set benched in every
round since round 3 — the round-over-round comparable number (the full
headline total moves whenever entries are added, so it cannot be
compared across rounds).

Timing = full query execution to a noop-sink write: every output column
is computed and serialized (a count() would let Catalyst prune unused
projections — for queries with no post-projection aggregate the timed
plan degenerates to a parquet row-count scan). One warm-up query first
so JVM/codegen warm-up isn't billed to the first headline entry.

Per-query semantics (round 13, per the r12 verdict): the recorded
``queries`` map is the TIER-WARM best-of-N — shared frames on the
per-process scratch-parquet tier survive the clearCache between runs,
so run 1 pays each frame build once and the best-of keeps the narrow
read-back (the long-lived-session steady state). The build cost is NOT
dropped: run 1's wall time is recorded per query as ``queries_cold``
in BENCHLOG.json. See _run_names for the full mechanics.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from e_commerce_data_engineering_spark.plans.registry import all_queries  # noqa: E402
from e_commerce_data_engineering_spark.session import get_spark  # noqa: E402

# Headline set: the heavier/shape-diverse queries (joins, windows,
# dedup, ANN, sessionization) — the ones whose plans matter at scale.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_nation_revenue",
    "q06_mktsegment_revenue",
    "q07_distinct_agg",
    "q14_range_join",
    "q16_window_rank",
    "q36_nation_volume",
    "q60_returned_item_customers",
    "q17_window_running",
    "e02_tumbling_window",
    "e03_sessionize",
    "e14_rolling_active_users",
    "r06_discount_pattern",
    "t01_token_stats",
    "t23_bigram_logprob",
    "t05_ngram_jaccard_pairs",
    "t17_top_bigrams",
    "x05_cms_portable",
    "t09_similarity_join",
    "d03_minhash_dedupe",
    "d04_embedding_neardup",
    "d06_semdedup",
    # d07 immediately after d06: both build the IVF index over the
    # same vectors plan, so the cached_ivf_index entry built for d06
    # is reused instead of rebuilt
    "d07_semdedup_recall",
    "t29_segment_dedup",
    "s02_cosine_topk",
    "s05_ivf_cosine_topk",
    # s11 immediately after s05: shares the session-cached IVF index
    # (same embeddings plan), so only the PQ train/encode is new cost
    "s11_ivfpq_topk",
    "a01_asof_join",
    # round-4 continuation additions
    "e21_last_touch_attribution",
    "t37_ks_drift",
    "s12_rrf_hybrid_rank",
    "x08_histogram_quantiles",
    "s13_mrl_truncation_recall",
    "t40_dup_spans",
    # round-7 additions: representative round-6/7 shapes (R3_SUBSET
    # stays frozen) — t47 sources²-vocab divergence join, q77 pairwise
    # slopes on the broadcast monthly aggregate, m07 decode-bound
    # mapInPandas, x10 map-side-combined sketch, m08 fingerprint banding
    "t47_js_source_divergence",
    "q77_theil_sen_trend",
    "m07_image_ahash",
    "x10_ams_f2",
    "m08_image_neardup_pairs",
    # round-7 queries with distinct plan shapes: two-stage ADC+rerank,
    # df-capped wedge join, shuffle-free PMI pair generation
    "s17_rerank_shortlist",
    "g07_link_prediction",
    "t48_pmi_cooccurrence",
    # round-7 late additions: LPA rounds (two edge joins + keyed-window
    # argmax), blocked prefix-containment pair join, joinless moment
    # aggregate, histogram-window Gini
    "g08_label_communities",
    "d17_prefix_subsumed",
    "q81_ols_price_model",
    "e33_gini_activity",
    # round-7 session-3 additions: degree-moment equi-joins, partkey
    # year self-join, per-row G2 + source-keyed top-k, day-grid KM
    "g09_degree_assortativity",
    "q83_price_index",
    "t53_llr_keywords",
    "q84_km_repeat_purchase",
    "e34_autocorrelation",
    "q85_cohort_ltv",
    "x12_count_sketch",
    "q86_price_elasticity",
    "q87_abc_classes",
    "q88_spend_band_migration",
    "q89_weibull_reorder",
    "g10_rich_club",
    "m09_audio_neardup_pairs",
    "t55_dedup_waterfall",
    "e36_session_affinity",
    "q90_supplier_hhi",
    "e37_kruskal_wallis",
    "t56_bpe_merges",
    "s21_adc_rank_correlation",
    "q91_mann_whitney",
    # round-8 additions (R3_SUBSET stays frozen): portable landmark
    # banding, vocab-grain BPE encode, measured-mass band tuning, the
    # (nprobe, shortlist) frontier grid, capped bipartite projection,
    # K-row theta sketches, value-grid percentiles, robust means,
    # integer-argmax knee pick, TV mix shift
    "m10_portable_audio_pairs",
    "t57_bpe_apply",
    "d18_minhash_band_tuning",
    "s22_ann_frontier",
    "g11_bipartite_projection",
    "x14_theta_sketch_diff",
    "q93_order_gap_percentiles",
    "t58_winsorized_quality",
    "t59_kneedle_threshold",
    "q94_priority_mix_shift",
    "e39_transition_dwell",
    "e40_powerlaw_tail_fit",
    # round-8 late additions: chance-corrected agreement, ACF argmax,
    # dense-grid dispersion, 2-hop BFS unroll, dim-grain moment fold,
    # fingerprint-grain provenance matrix, value-grid quintiles,
    # 13-term MA self-join, shared-chain fate labeling
    "t60_cohens_kappa",
    "e41_dominant_period",
    "e42_fano_burstiness",
    "g12_harmonic_centrality",
    "s23_embedding_anisotropy",
    "d19_cross_source_dup_matrix",
    "t61_ttr_by_length",
    "q96_seasonal_decompose",
    "t62_dedup_survivorship",
    # round-8 continuation: winnowing HOF selection, shared-LM tercile
    # fences, x32 weighted-bootstrap fan-out, exact-integer HITS
    # unroll, dim-grain silhouette scoring, MAD residual screen
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
    "s26_abtt_retrieval_shift",
    "q99_concentration_ratios",
    # round-9 additions: value-grid Kendall tau-b, Pettitt change-point,
    # runs test, safety-stock quantiles, BH-FDR A/A suite, MMR rerank,
    # participation ratio, Kneser-Ney LM, Yule's K
    "q100_kendall_tau",
    "q101_pettitt_changepoint",
    "q102_runs_test",
    "q103_safety_stock",
    "e43_bh_fdr",
    "s27_mmr_rerank",
    "s28_participation_ratio",
    "t67_kneser_ney",
    "t68_yule_k",
    "x15_sample_quantiles",
    "d21_dedup_consensus",
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
    # round-10 additions: DCT pHash + banded pairs, CMS-driven join
    # strategy pick, online drift detectors, exact trend/normality
    # tests, EOQ policy, richness battery, charset screen, char-bigram
    # entropy, session composition, RBO, Dirichlet QL ranking, weighted
    # shingle cosine, per-edge truss support
    "m12_image_phash",
    "m13_phash_neardup_pairs",
    "x18_cms_broadcast_decision",
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
    # d23 is deliberately NOT in HEADLINE: it is the run-occasionally
    # COMPOSITION of d09 + d22, both of which are benched individually
    # above — benching the composition under clearCache double-pays
    # their full cold pipelines (measured 51 s) without exercising any
    # new plan shape (same reasoning keeps most one-off audits out).
    "x20_cms_error_envelope",
    "t76_lang_bigram_distance",
    "q124_xbar_control_chart",
    "x21_theta_intersection",
    # round-11 additions
    "x22_cms_steered_join_audit",
    "m15_image_entropy",
    "q125_benford_second_digit",
    "e48_ljung_box",
    "s33_norm_pruned_topk",
    "g16_clustering_coefficient",
    "q127_croston_forecast",
    "e49_retention_decay",
    # round-12 additions
    "g17_personalized_pagerank",
    "t77_zipf_slope",
    "e50_hazard_rate",
    "x23_linear_counting",
    "d24_containment_pairs",
    "s34_idf_soft_jaccard",
    "m16_audio_rms_zcr",
    "q129_steered_nation_volume",
    "t78_heaps_shingle_growth",
    "e51_markov_transitions",
    "q130_rfm_segments",
    "x24_bloom_prefilter",
    "m17_jpeg_qtable_readback",
    "s35_lsh_bits_tuning",
    "e52_funnel_conversion",
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
]

# The fixed cross-round comparison set: the 24 queries present in every
# bench since round 3. FROZEN — do not add entries (new queries extend
# HEADLINE instead); its sum is the only total comparable across rounds.
# PROTOCOL NOTE (round 5 onward): sub-second entries get an adaptive
# third timed run (see the loop below), where rounds 3-4 recorded
# min-of-2 for them — a small systematic downward bias on the fast
# entries when comparing this subtotal against the r3/r4 numbers. The
# protocol is frozen as-of round 5; r5+ subtotals compare cleanly.
R3_SUBSET = frozenset({
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_nation_revenue",
    "q06_mktsegment_revenue",
    "q07_distinct_agg",
    "q14_range_join",
    "q16_window_rank",
    "q36_nation_volume",
    "q17_window_running",
    "e02_tumbling_window",
    "e03_sessionize",
    "e14_rolling_active_users",
    "r06_discount_pattern",
    "t01_token_stats",
    "t23_bigram_logprob",
    "t05_ngram_jaccard_pairs",
    "t17_top_bigrams",
    "t09_similarity_join",
    "d03_minhash_dedupe",
    "d04_embedding_neardup",
    "d06_semdedup",
    "s02_cosine_topk",
    "s05_ivf_cosine_topk",
    "a01_asof_join",
})

# Long-JVM run-to-run variance is measured at up to ±3x on the heavy
# queries (GC/codegen/system load) — they get a third timed run so the
# min is a stable steady-state number, not noise.
HEAVY = {
    "t05_ngram_jaccard_pairs",
    "t09_similarity_join",
    "d03_minhash_dedupe",
    "d04_embedding_neardup",
    "d06_semdedup",
    "s05_ivf_cosine_topk",
    # first call pays the one-time PQ codebook train (cached per
    # session); min-of-3 reports the steady-state probe cost
    "s11_ivfpq_topk",
    "q03_shipping_priority",
    "q05_region_nation_revenue",
    # first run pays the shingle-index codegen; min-of-3 is steady state
    "t40_dup_spans",
    # round-7: decode-bound mapInPandas (m08), two-stage ADC+rerank
    # (s17), wedge join (g07) — all first-run JIT/Arrow-spin-up heavy
    "m08_image_neardup_pairs",
    "s17_rerank_shortlist",
    "g07_link_prediction",
}


def materialize(df) -> None:
    """Force full execution of every output column: write to the noop
    sink (computes + serializes all rows, discards bytes). count() is
    NOT equivalent — Catalyst prunes projections a count doesn't need."""
    df.write.format("noop").mode("overwrite").save()


def _run_names(spark, queries, names, sf_dir) -> tuple[dict[str, float], dict[str, float]]:
    """Best-of-N timed runs for each named query (the core protocol).

    Returns ``(steady, cold)``: ``steady[name]`` is the best-of-N (the
    recorded headline number, unchanged semantics since round 3) and
    ``cold[name]`` is run 1's wall time.

    MEASUREMENT SEMANTICS (made explicit in round 13, per the r12
    verdict): ``spark.catalog.clearCache()`` between runs evicts every
    in-memory persist, so each timed run re-runs its own persisted
    subtrees — but shared frames on the per-process SCRATCH-PARQUET
    tier (frames.tier) survive clearCache by design: run 1
    pays the full frame build + parquet write, runs 2+ reload a narrow
    parquet scan. The recorded best-of-N is therefore the TIER-WARM
    steady state (what a long-lived session that materialized its
    shared signature/index tables once actually sees), and the
    one-per-process frame-build cost is recorded in ``cold`` — both
    land in BENCHLOG.json (``queries`` = steady, ``queries_cold`` =
    cold). Nothing survives a bench invocation: the tier is a
    per-process tempdir removed at interpreter exit."""
    steady: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        best = float("inf")
        runs = 3 if name in HEAVY else 2
        done = 0
        while done < runs:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            if done == 0:
                cold[name] = round(dt, 3)
            best = min(best, dt)
            done += 1
            # sub-second entries sit inside scheduler-noise territory
            # (±2.5x observed run-to-run); give every one a third run
            # so a noisy sample can't masquerade as a plan regression
            if done == runs and runs < 3 and best < 1.0:
                runs = 3
        steady[name] = round(best, 3)
    return steady, cold


# Committed variance bands (r12 verdict #8) for the five queries whose
# r12 driver-run numbers were one degraded segment (HEADLINE indices
# 219-224: 2-5x their bands with ZERO code change; builder terminal had
# them at band). (lo, hi) spans every clean 32-core record across
# r11/r12 plus solo re-measurements with ~2x slack on the high side; a
# recorded value above hi on a >=16-core run is flagged in BENCHLOG as
# out_of_band — machine noise to re-measure, not a plan regression.
VARIANCE_BANDS = {
    "q118_newsvendor_cost": (0.6, 2.4),
    "e47_intersession_gaps": (0.4, 1.6),
    "s32_lexical_rbo": (0.7, 2.6),
    "g15_truss_peel": (1.4, 4.2),
    "q119_ses_forecast": (0.9, 2.8),
}

# Queries per fresh-process measurement segment. WHY SEGMENTS (round-11
# finding, reproduced deterministically): past ~170 executed plans a
# single local JVM enters a degraded mode where the biggest-codegen
# queries (d18/d21: 64-perm HOF pipelines) run ~5x slower (32-40 s vs a
# 6-8 s band). The mode survives spark.stop() + a NEW SparkContext in
# the same process, a forced System.gc(), -XX:ReservedCodeCacheSize=1g,
# and spark.sql.codegen.wholeStage=false — i.e. it is JVM-process
# state (metaspace/native fragmentation class), not Spark session
# state, not plan cost: the SAME queries read 6-8 s in any fresh
# process at any point in the round. A real cluster never holds one
# executor JVM for hundreds of heavy plans (dynamic allocation /
# container churn recycles them); the bench mirrors that by running
# each segment in a fresh process and merging timings.
#
# ROUND-12 SIZING (the round-11 official record re-entered the degraded
# mode at _SLICE=60: best-of-2/3 x 60 queries ~ 130-180 executed plans,
# straddling the ~170-plan threshold): segments are budgeted by
# EXECUTED PLANS, not query count — 20 queries/process ~ 45-65 plans,
# 3x under the threshold — and the repeat-offender biggest-codegen
# queries additionally run ONE PER PROCESS (ISOLATE below), so their
# recorded number can never depend on what ran before them. Protocol is
# otherwise unchanged (same warm-up per process, same best-of-N).
_SLICE = int(os.environ.get("SPARK_GRAFT_BENCH_SLICE_SIZE", "20"))

# One fresh process per query for the documented JVM-aging victims (the
# 64/32-perm HOF towers and the widest crossJoin scorers): ~10 s of JVM
# startup each — not billed to the timings — buys a number that is a
# function of the plan alone.
ISOLATE = {
    "d18_minhash_band_tuning",
    "d21_dedup_consensus",
    "d19_cross_source_dup_matrix",
    "s26_abtt_retrieval_shift",
    "s29_mmr_diversity_gain",
    "s25_top_component",
}

# Adjacent pairs that share a session cache (IVF centroids, PQ
# codebooks): a segment boundary must not split them, or the second
# member pays a rebuild the single-process protocol never charged.
_GLUE = {"d07_semdedup_recall", "s11_ivfpq_topk"}


def _segments() -> list[list[str]]:
    """HEADLINE partitioned into fresh-process segments: ISOLATE names
    get singleton segments; the rest chunk in order at _SLICE, extending
    a chunk rather than splitting a cache-glued pair."""
    segs: list[list[str]] = []
    chunk: list[str] = []
    for name in HEADLINE:
        if name in ISOLATE:
            segs.append([name])
            continue
        if len(chunk) >= _SLICE and name not in _GLUE:
            segs.append(chunk)
            chunk = []
        chunk.append(name)
    if chunk:
        segs.append(chunk)
    return segs


def _main_slice(sf_dir: str, names: list[str]) -> None:
    spark = get_spark(app_name=f"bench-{names[0]}")
    queries = all_queries()
    # warm-up: JVM, codegen, parquet footer caches
    materialize(queries["q06_mktsegment_revenue"](spark, sf_dir))
    # degraded-machine sentinel (r12 verdict #8): time the warm-up
    # query once at segment start (post-JVM-warm-up steady state) and
    # once after the segment's queries. A degraded machine/JVM shows
    # up as the END sample far above the START sample — recorded per
    # segment in BENCHLOG so a polluted segment is visible in the
    # official record instead of masquerading as plan regressions
    # (the r12 driver run had one such segment: q118/e47/s32/g15/q119
    # at 2-5x their bands, zero code change).
    t0 = time.perf_counter()
    materialize(queries["q06_mktsegment_revenue"](spark, sf_dir))
    sent_start = round(time.perf_counter() - t0, 3)
    timings, cold = _run_names(spark, queries, names, sf_dir)
    t0 = time.perf_counter()
    materialize(queries["q06_mktsegment_revenue"](spark, sf_dir))
    sent_end = round(time.perf_counter() - t0, 3)
    print("SLICE_RESULT " + json.dumps(timings), flush=True)
    print("SLICE_COLD " + json.dumps(cold), flush=True)
    print(
        "SLICE_SENTINEL "
        + json.dumps({"names": names[:1], "start": sent_start, "end": sent_end}),
        flush=True,
    )
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    slice_env = os.environ.get("SPARK_GRAFT_BENCH_SLICE")
    if slice_env:
        _main_slice(sf_dir, slice_env.split(","))
        return

    import subprocess

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    sentinels: list[dict] = []
    for seg in _segments():
        env = dict(os.environ, SPARK_GRAFT_BENCH_SLICE=",".join(seg))
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        got = False
        for line in proc.stdout.splitlines():
            if line.startswith("SLICE_RESULT "):
                timings.update(json.loads(line[len("SLICE_RESULT "):]))
                got = True
            elif line.startswith("SLICE_COLD "):
                cold.update(json.loads(line[len("SLICE_COLD "):]))
            elif line.startswith("SLICE_SENTINEL "):
                s = json.loads(line[len("SLICE_SENTINEL "):])
                s["segment"] = seg[0]
                # flag, don't retry: a segment whose end-sentinel runs
                # 2x its start-sentinel (plus scheduler-floor slack)
                # ran on a degraded machine/JVM — its numbers are
                # suspect regardless of plan quality
                s["degraded"] = s["end"] > max(2.0 * s["start"], s["start"] + 0.5)
                sentinels.append(s)
        if proc.returncode != 0 or not got:
            raise RuntimeError(
                f"bench slice {seg[0]} failed (rc={proc.returncode}): "
                f"{proc.stderr[-2000:]}"
            )

    total = round(sum(timings.values()), 3)
    r3_subset = round(sum(t for n, t in timings.items() if n in R3_SUBSET), 3)
    degraded = [s["segment"] for s in sentinels if s.get("degraded")]
    out_of_band = {
        n: (timings[n], VARIANCE_BANDS[n])
        for n in VARIANCE_BANDS
        if n in timings and timings[n] > VARIANCE_BANDS[n][1]
    }
    # The driver keeps only the LAST ~2000 chars of stdout, and the full
    # per-query map outgrew that in round 7 (BENCH_r07..r09 all recorded
    # "parsed": null). So: the full map goes on its OWN line first (for
    # humans / the in-repo BENCHLOG), and the FINAL line is a compact
    # (<1 KB) summary — totals plus the top-10 slowest entries — that is
    # guaranteed to fit whole inside the tail capture.
    full = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "headline_r3_subset_sec": r3_subset,
        "queries": timings,
        # run-1 wall time per query: prices the one-per-process
        # scratch-tier frame builds the steady-state number excludes
        # (see _run_names docstring — r12 verdict item #1)
        "queries_cold": cold,
        "sentinels": sentinels,
        "degraded_segments": degraded,
        "out_of_band": out_of_band,
        "sf": sf,
    }
    print(json.dumps(full))
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCHLOG.json"), "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line above still has the map
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "headline_r3_subset_sec": r3_subset,
                "n_queries": len(timings),
                "slowest10": slowest,
                "n_degraded_segments": len(degraded),
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
