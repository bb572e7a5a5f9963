"""Physical-plan assertions (the 100 TB checklist): filters reach the
parquet scan, column pruning works, fixed-size dims broadcast, top-k
avoids a global sort, semi/anti joins stay semi/anti. These lock in
plan properties that correctness tests can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_data_engineering_spark.plans.registry import all_queries

QUERIES = all_queries()
SF = "/root/testdata/sf0.001"


def explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def plan_of(spark, name: str) -> str:
    return explain(QUERIES[name](spark, SF))


def test_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q02_filter_project")
    assert "PushedFilters: [" in plan and "IsNotNull(l_shipdate)" in plan, plan
    # column pruning: untouched wide columns must not be read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema and "l_suppkey" not in read_schema


def test_fixed_dims_broadcast(spark):
    plan = plan_of(spark, "q05_region_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 2, plan  # nation + region


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "q15_topk_orders")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort [" not in plan  # no global sort node


def test_semi_anti_join_physical(spark):
    assert "LeftSemi" in plan_of(spark, "q11_semi_join")
    assert "LeftAnti" in plan_of(spark, "q12_anti_join")


def test_aggregate_pushes_partial(spark):
    # hash aggregate with partial (map-side) phase before the shuffle
    plan = plan_of(spark, "q01_pricing_summary")
    # two HashAggregates around one Exchange = partial (map-side) + final
    agg_idx = [i for i, l in enumerate(plan.splitlines()) if "HashAggregate" in l]
    exch_idx = [i for i, l in enumerate(plan.splitlines()) if "Exchange" in l]
    assert len(agg_idx) >= 2 and len(exch_idx) >= 1
    assert agg_idx[0] < exch_idx[0] < agg_idx[-1]


def test_adaptive_enabled(spark):
    plan = plan_of(spark, "q06_mktsegment_revenue")
    assert "AdaptiveSparkPlan" in plan


def test_probe_set_broadcast_in_ann(spark):
    plan = plan_of(spark, "s02_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_no_python_udf_in_analytics_plans(spark, tmp_path):
    """The order ETL and the analytics surface stay fully JVM-side
    (SURVEY §2.10): no plan evaluates Python, and the ETL's
    reference-exact money rounding is a Catalyst expression."""
    from e_commerce_data_engineering_spark.pipeline import process_raw, read_raw_jsonl
    from e_commerce_data_engineering_spark.sources.generator import generate_orders

    raw = tmp_path / "raw.jsonl"
    raw.write_text("\n".join(generate_orders(spark, 20, seed=3).toJSON().collect()) + "\n")
    processed, _invalid, _corrupt = process_raw(read_raw_jsonl(spark, str(raw)))
    plans = {"process_raw": explain(processed)}
    for name in (
        "q01_pricing_summary",
        "q05_region_nation_revenue",
        "t01_token_stats",
        "s02_cosine_topk",
        "e03_sessionize",
    ):
        plans[name] = plan_of(spark, name)
    for name, plan in plans.items():
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_exists_rewrites_to_semi_join(spark):
    plan = plan_of(spark, "q04_priority_with_returns")
    assert "LeftSemi" in plan, plan


def test_similarity_join_avoids_cartesian(spark):
    """The PPJoin candidate generator must be an equi-join on prefix
    tokens — never a cross/nested-loop pair enumeration."""
    plan = plan_of(spark, "t09_similarity_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_is_distributed_equi_join(spark):
    """d04 is exact all-pairs, but the pair space must be covered by the
    block-pair EQUI-join (operators/similarity.block_pair_join): no
    broadcast of the whole table, no nested-loop — per-task memory is
    bounded by block size, so the plan survives 100x."""
    plan = plan_of(spark, "d04_embedding_neardup")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ngram_jaccard_pairs_is_equi_join_only(spark):
    """t05 must use the prefix-filtered set-similarity join inside each
    source block — never a per-block O(n^2) theta-join."""
    plan = plan_of(spark, "t05_ngram_jaccard_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_nation_volume_broadcasts_all_dims(spark):
    # q36 joins 4 dims around the lineitem-orders fact join: every dim
    # side must broadcast, and nothing may degrade to a nested loop.
    plan = plan_of(spark, "q36_nation_volume")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_waiting_suppliers_keeps_semi_and_anti(spark):
    # q38's EXISTS / NOT EXISTS must stay semi + anti joins (a rewrite
    # to inner join + dedup would double-count late line items).
    plan = plan_of(spark, "q38_waiting_suppliers")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_trailing_window_single_shuffle(spark):
    # q41's RANGE-frame window needs exactly one exchange (on
    # o_custkey) — the frame itself is a per-partition sliding sum.
    df = QUERIES["q41_trailing_revenue"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_market_share_broadcasts_all_dims(spark):
    # q51: part/supplier/nation/region all broadcast — the only shuffle
    # join is the lineitem-orders fact join, and the PROMO filter prunes
    # part BEFORE the join (pushed to the dim scan, not post-join)
    plan = plan_of(spark, "q51_market_share")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "PushedFilters" in plan and "EqualTo(p_type,PROMO)" in plan, plan


def test_bracket_revenue_pushes_bracket_bounds(spark):
    # q52: the OR-of-ANDs collapses to pushable bounds on each side —
    # lineitem never scans rows with quantity outside [1, 50], part is
    # broadcast, and no nested-loop join appears
    plan = plan_of(spark, "q52_bracket_revenue")
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "GreaterThanOrEqual(l_quantity,1" in plan, plan


def test_important_parts_threshold_is_broadcast(spark):
    # q53: the global-total threshold joins as a single-row broadcast,
    # not a cartesian re-scan per part
    plan = plan_of(spark, "q53_important_parts")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semdedup_pairs_are_equi_join(spark):
    # d06: within-cell pair generation must be an equi-join on the cell
    # id — never a cartesian/nested-loop pair blowup
    plan = plan_of(spark, "d06_semdedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_q59_pushes_all_scan_filters(spark):
    # TPC-H Q6 is THE pushdown test: date, discount band, and quantity
    # bounds must all reach the parquet reader
    plan = plan_of(spark, "q59_forecast_change")
    assert "PushedFilters" in plan, plan
    for frag in (
        "GreaterThanOrEqual(l_discount,0.05",
        "LessThanOrEqual(l_discount,0.07",
        "LessThan(l_quantity,24",
        "GreaterThanOrEqual(l_shipdate,",
    ):
        assert frag in plan, (frag, plan)


def test_a03_point_in_time_join_is_equi(spark):
    # the SCD2 containment must ride the user-key equi-join as a post-
    # filter — never a nested-loop over intervals
    plan = plan_of(spark, "a03_point_in_time_join")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_e14_rolling_distinct_avoids_window(spark):
    # the trailing-7-day distinct uses the exploded-contribution form:
    # no Window operator (a RANGE-frame distinct would materialize every
    # window's user set), just explode + aggregate
    plan = plan_of(spark, "e14_rolling_active_users")
    assert "Window" not in plan, plan
    assert "Generate explode" in plan or "Expand" in plan or "explode" in plan.lower(), plan


def test_q60_topk_no_global_sort(spark):
    # Q10 analog: the LIMIT 20 over revenue DESC must compile to
    # TakeOrderedAndProject, and nation must ride in as a broadcast
    plan = plan_of(spark, "q60_returned_item_customers")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q64_correlated_scalar_is_decorrelated(spark):
    # Q17 analog: the correlated scalar AVG must become one aggregate
    # joined back on l_partkey — no per-row subquery node, no cartesian
    plan = plan_of(spark, "q64_small_quantity_revenue")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # per-part AVG + final


def test_q66_nested_in_compiles_to_semi_joins(spark):
    # Q20 analog: both IN subqueries must be left-semi joins
    plan = plan_of(spark, "q66_excess_stock_suppliers")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_s08_d08_bucket_joins_are_equi(spark):
    # the portable-LSH twins must candidate-generate via a bucket
    # equi-join — never a cartesian pair blowup
    for name in ("s08_bucket_lsh_topk", "d08_bucketed_neardup_pairs"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, (name, plan)


def test_x05_sketch_grid_is_two_aggregates(spark):
    # portable CMS: per-key pre-aggregate + fixed-size grid aggregate —
    # no join in the build path, no python UDF anywhere
    plan = plan_of(spark, "x05_cms_portable")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x two aggs


def test_t24_chunking_is_shuffle_free(spark):
    # context chunking is a pure per-row HOF explode: no exchange at all
    plan = plan_of(spark, "t24_context_chunks")
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan  # the posexplode


def test_d09_portable_lsh_is_equi_join_only(spark):
    # the portable MinHash twin keeps d01's scale shape: candidates form
    # only via the (band, bandsig) bucket equi-join
    plan = plan_of(spark, "d09_portable_minhash_pairs")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_t27_dsir_topk_and_broadcast_lambda(spark):
    # DSIR: the 256-row lambda table broadcasts; the top-100 selection
    # is TakeOrderedAndProject, never a global sort
    plan = plan_of(spark, "t27_dsir_weights")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_x06_bloom_probe_is_broadcast_join(spark):
    # the bit table (<= m rows by construction) must broadcast to the
    # probe side — the whole point of a bloom filter at scale
    plan = plan_of(spark, "x06_bloom_membership")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_g04_triangle_join_is_equi_only(spark):
    # wedge generation + closing-edge check: equi joins (with inequality
    # residuals), never a cartesian/nested-loop expansion
    plan = plan_of(spark, "g04_triangle_counts")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan, plan  # closing-edge existence check


def test_x07_hll_state_is_bounded_aggregates(spark):
    # register build = hash aggregate over (source, reg); no joins other
    # than the tiny estimate/exact combine, no window over raw rows
    plan = plan_of(spark, "x07_hll_portable")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x (regs, rollup)


def test_t28_priority_sample_is_take_ordered(spark):
    # the weighted sample must compile to per-partition heaps + driver
    # merge, not a global sort of the corpus
    plan = plan_of(spark, "t28_priority_sample")
    assert "TakeOrderedAndProject" in plan, plan


def test_t29_keeper_is_semi_join_no_window_over_hash(spark):
    # keep-first selection: groupBy-min + LeftSemi back-join (partial-agg
    # friendly), NOT a row_number window partitioned by segment hash
    plan = plan_of(spark, "t29_segment_dedup")
    assert "LeftSemi" in plan, plan
    assert "RunningWindowFunction" not in plan
    assert "CartesianProduct" not in plan


def test_s11_ivfpq_probe_is_broadcast_cell_join(spark):
    # ADC scoring reaches candidates through the _cell equi join with the
    # broadcast probe side — never a cross join against the corpus
    plan = plan_of(spark, "s11_ivfpq_topk")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_t30_bm25_prunes_terms_before_shuffle_and_takes_topk(spark):
    plan = plan_of(spark, "t30_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan
    # the IN-list term filter prunes the exploded token stream directly
    # (a Filter node with the IN condition, evaluated before any
    # aggregate exchange — node ids are topological, so the Filter's id
    # must precede its subtree's Exchange id)
    import re

    m = re.search(r"\((\d+)\) Filter[\s\S]*?Condition : tok#\d+ IN \(", plan)
    assert m, plan
    filt_id = int(m.group(1))
    exch_ids = [int(x) for x in re.findall(r"\((\d+)\) Exchange", plan)]
    assert any(e > filt_id for e in exch_ids), (filt_id, exch_ids)


@pytest.mark.parametrize(
    "name",
    [
        "t31_mixture_sample",
        "t32_source_overlap",
        "d10_portable_simhash_pairs",
        "d11_fuzzy_name_pairs",
        "e17_ewma_daily",
        "e18_transition_matrix",
        "q67_market_basket",
        "q68_rfm_segments",
        "e15_trending_decay",
        "e16_variant_props",
    ],
)
def test_round4_closing_queries_avoid_cartesian(spark, name):
    # every pair-forming query reaches its candidates through an equi
    # join (block key, gram hash, order key, chunk match) — a
    # CartesianProduct node would mean the blocking collapsed. One-row
    # broadcast stats frames legitimately appear as BroadcastNestedLoop
    # with a broadcast side; unbounded CartesianProduct never should.
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


def test_q71_salted_agg_is_two_aggregate_pairs(spark):
    """The salted rollup must show partial+final HashAggregate around
    the salt exchange AND a second fold on the natural key — four
    HashAggregate nodes total, with the whole-table shuffle keyed on
    (flag, salt) so hot keys fan out."""
    plan = plan_of(spark, "q71_salted_skew_agg")
    assert plan.count("HashAggregate") >= 4, plan
    # the salt key survives into the first grouping (Catalyst inlines
    # the alias into a _groupingexpression)
    assert "pmod(l_orderkey" in plan, plan
    assert "CartesianProduct" not in plan


def test_e21_attribution_single_user_shuffle(spark):
    """Attribution window + aggregate: the only wide exchanges are the
    user_id window partitioning and the channel rollup — no join at
    all, so no cartesian/broadcast-nested-loop can appear."""
    plan = plan_of(spark, "e21_last_touch_attribution")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "Window" in plan


@pytest.mark.parametrize(
    "name",
    ["e22_dow_seasonality", "e23_cusum_changepoint", "t37_ks_drift", "t38_quality_auc"],
)
def test_round4_analytics_additions_avoid_cartesian(spark, name):
    # t37's dense grid is a dimension-sized cross of two aggregate
    # frames (sources × distinct lengths) — it must come in as a
    # broadcast, never an unbounded CartesianProduct over the corpus.
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


def test_s12_rrf_lists_are_topk_bounded(spark):
    """Both retriever lists must be top-N-bounded (TakeOrderedAndProject)
    before the fusion join; the only nested-loop joins are the broadcast
    1-row/stats frames — never an unbounded CartesianProduct."""
    plan = plan_of(spark, "s12_rrf_hybrid_rank")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_d12_pairs_ride_cell_equi_join(spark):
    """d12's pair stage must be an equi-join on the cell id; the only
    nested-loop is the broadcast fixed-centroid dimension (8 rows)."""
    plan = plan_of(spark, "d12_semdedup_greedy")
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["s13_mrl_truncation_recall", "g06_kcore_prune", "x08_histogram_quantiles"],
)
def test_round4_final_additions_plan_shapes(spark, name):
    # s13's probe set and x08's stats/targets frames are broadcast
    # (bounded) sides; g06's peel rounds are node-keyed aggregations and
    # semi joins. None may degenerate to an unbounded CartesianProduct.
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


def test_g06_restriction_is_semi_join(spark):
    """Edge restriction to surviving nodes must be a LeftSemi equi join
    per endpoint, not an inner-join multiplication."""
    plan = plan_of(spark, "g06_kcore_prune")
    assert "LeftSemi" in plan, plan


@pytest.mark.parametrize(
    "name", ["m04_video_frame_sample", "s14_filtered_cosine_topk"]
)
def test_round4_last_additions_avoid_cartesian(spark, name):
    # m04's fan-out is a metadata explode (no join at all); s14's
    # candidate generation must be the label equi-join, never a
    # post-filtered cross product.
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


def test_s14_prefilter_is_equi_join(spark):
    """The label constraint must reach the join condition (hash/broadcast
    equi join on label), not run as a filter above a cross join."""
    plan = plan_of(spark, "s14_filtered_cosine_topk")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_t40_span_match_is_anchored_equi_join(spark):
    """The shingle match must be an equi-join on the shingle hash after
    the rare-anchor semi join — never a cartesian doc-pair scan."""
    plan = plan_of(spark, "t40_dup_spans")
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_t41_reuses_anchored_match_shape(spark):
    """Span removal rides the same anchored shingle equi-join as t40;
    interval merging is windows + aggregates — nothing cartesian."""
    plan = plan_of(spark, "t41_span_removal_stats")
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_e25_lateness_is_pure_window_agg(spark):
    """The late-event profile is one running-max window partitioned by
    (event_type, day) plus a rollup — no join in the plan at all."""
    plan = plan_of(spark, "e25_late_event_profile")
    assert "Window" in plan, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_s15_adc_rides_cell_equi_join(spark):
    """IVFADC: the only cartesian products are against the broadcast
    centroid/codebook constants (bounded rows); the candidate scoring
    join must be the cell/LUT equi-join, never corpus x probes."""
    plan = plan_of(spark, "s15_portable_ivfpq_topk")
    assert "BroadcastHashJoin" in plan, plan
    # the centroid/codebook cross joins are BroadcastNestedLoopJoin over
    # <= NLIST/M*K rows; a non-broadcast CartesianProduct is the bug
    assert "CartesianProduct" not in plan, plan


def test_s16_recall_curve_avoids_cartesian(spark):
    """The nprobe sweep joins probes to cell-assigned candidates; only
    the broadcast centroid/np-grid cross joins may appear."""
    plan = plan_of(spark, "s16_nprobe_recall_curve")
    assert "CartesianProduct" not in plan, plan


def test_x09_pair_stage_joins_sketches_not_tokens(spark):
    """KMV: the pair stage must join the K-row sketches (broadcast pair
    grid), with no cartesian product anywhere."""
    plan = plan_of(spark, "x09_kmv_intersection")
    assert "CartesianProduct" not in plan, plan


def test_d14_ground_truth_is_anchored_equi_join(spark):
    """The S-curve's ground-truth pair generation must ride the rare-
    shingle semi join + hash equi-join (the t40 anchor move), and the
    banding catch check is a band/bsig equi-join — nothing cartesian.
    Since round 12 the anchored pair frame is built ONCE and read back
    from scratch parquet (the frames.tier disk tier), so the semi join
    is pinned on the build function called directly while the consumer
    plan is pinned cartesian-free."""
    from e_commerce_data_engineering_spark.operators.dedup import (
        _anchored_pairs,
        _shingle_frame,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    raw = _anchored_pairs(_shingle_frame(d, "doc_id", "text", 3), max_df=20)
    build_plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in build_plan, build_plan
    assert "CartesianProduct" not in build_plan, build_plan

    plan = plan_of(spark, "d14_lsh_scurve")
    assert "CartesianProduct" not in plan, plan


def test_d15_estimator_audit_shares_anchor_shape(spark):
    """The estimator calibration scores only the anchored candidate
    pairs (d14's rare-shingle anchor machinery, shared through the
    frames.tier scratch-parquet tier) — never all pairs."""
    plan = plan_of(spark, "d15_minhash_estimator_calibration")
    assert "CartesianProduct" not in plan, plan


# --- round-7 additions -----------------------------------------------------


def test_g07_wedge_is_equi_join_take_ordered(spark):
    """g07's candidates must come from the part-key wedge EQUI-join
    (never an all-supplier-pairs cartesian) and the top-k cut must be
    TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, "g07_link_prediction")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_t48_pair_generation_is_shuffle_free(spark):
    """t48 builds (center, context) pairs by array self-zips inside the
    projection — no per-doc window (the doc-partitioned sort shuffle
    the array formulation exists to avoid) and no positional
    self-join; the deterministic top-30 is TakeOrdered."""
    plan = plan_of(spark, "t48_pmi_cooccurrence")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q78_planning_window_rides_segment_manifest(spark):
    """q78's fill window must sit ABOVE the per-segment rollup (a
    partial+final aggregate pair over the fact scan) — the window's
    input is the segment manifest, never lineitem rows."""
    plan = plan_of(spark, "q78_compaction_bins")
    assert "WindowExec" in plan or "Window" in plan, plan
    # partial agg below: two HashAggregates for the per-segment rollup
    assert plan.count("HashAggregate") >= 4, plan
    # the window must consume the aggregated segment frame: in the
    # formatted plan the Window node's child chain contains the final
    # HashAggregate before any parquet scan re-appears
    win_at = plan.index("Window")
    scan_at = plan.index("Scan parquet")
    agg_at = plan.index("HashAggregate")
    assert agg_at < win_at or win_at < scan_at, plan


def test_s17_exact_rerank_joins_are_equi(spark):
    """s17's joins back to raw embeddings must be equi-joins on vec_id;
    the only cross joins in the plan are s15's documented 8-centroid
    broadcast (BroadcastNestedLoopJoin), never a CartesianProduct."""
    plan = plan_of(spark, "s17_rerank_shortlist")
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "m08_image_neardup_pairs",
        "e30_markov_stationary",
        "e31_regularity_screen",
        "e32_funnel_latency",
        "t49_boilerplate_prefixes",
        "t50_vocab_coverage",
        "d16_dedup_savings",
        "s18_rerank_recall",
        "x11_bloom_fpr_calibration",
        "q79_forecast_backtest",
    ],
)
def test_round7_additions_avoid_cartesian(spark, name):
    """No round-7 query may fall back to CartesianProduct — every
    cross join in these plans is a deliberate broadcast of a
    scalar/dimension frame."""
    assert "CartesianProduct" not in plan_of(spark, name)

def test_q80_wilson_is_single_agg_take_ordered(spark):
    """q80 aggregates the fact table to supplier grain once, broadcasts
    the supplier dim for names, and cuts top-k via
    TakeOrderedAndProject — no global sort, no shuffle join."""
    plan = plan_of(spark, "q80_wilson_return_rate")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q81_ols_is_joinless_moment_agg(spark):
    """q81 is ONE map + one all-to-one partial aggregate: the plan may
    contain no join of any kind and exactly one aggregate pair; the
    Cramer arithmetic is projection over a single row."""
    plan = plan_of(spark, "q81_ols_price_model")
    for node in ("Join", "CartesianProduct", "Window", "Exchange rangepartitioning"):
        assert node not in plan, plan


def test_g08_rounds_are_keyed_windows_no_cartesian(spark):
    """g08's two LPA rounds are edge equi-joins + per-node ROW_NUMBER
    windows partitioned by node — no cartesian, no single-partition
    global window (every Window node carries a partition key)."""
    plan = plan_of(spark, "g08_label_communities")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_d17_containment_rides_block_equi_join(spark):
    """d17's prefix pairs must come from the 32-char block EQUI-join
    (starts_with is a post-join filter, never the join condition
    alone): a cartesian or nested-loop fallback means the block key
    fell out of the condition."""
    plan = plan_of(spark, "d17_prefix_subsumed")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_e33_gini_window_rides_histogram(spark):
    """e33's cumulative window must partition by event_type and run
    over the count-value histogram — the plan has two aggregate pairs
    below the Window (user grain, then histogram grain), never a
    global-sort window over raw users."""
    plan = plan_of(spark, "e33_gini_activity")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan
    assert "Window" in plan, plan


def test_t51_entropy_is_two_rollups_no_broadcast_grid(spark):
    """t51 is (source,token) counts + a source rollup joined back on
    source — no cartesian/nested-loop densification onto a vocabulary
    grid (the t47 Heaps'-law rule)."""
    plan = plan_of(spark, "t51_token_entropy")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_s19_distortion_rides_broadcast_codebook(spark):
    """s19's encode stage is the shared s15 shape: subvectors joined
    against a BROADCAST codebook — no cartesian, no shuffle join for
    the (m)-keyed codebook lookup. Since r12 the encode stage lives on
    the scratch-parquet frame tier, so the broadcast is asserted on the
    BUILD plan (what actually executes once per process) and the
    consuming query is pinned cartesian-free."""
    plan = plan_of(spark, "s19_pq_distortion")
    assert "CartesianProduct" not in plan, plan

    from e_commerce_data_engineering_spark.plans.similarity import _pq_encd_build
    from e_commerce_data_engineering_spark.sources.tables import load_table

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    built = _pq_encd_build(e)
    build_plan = built._jdf.queryExecution().explainString(
        built._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in build_plan, build_plan
    assert "BroadcastHashJoin" in build_plan, build_plan


def test_q82_neyman_windows_ride_stratum_grain(spark):
    """q82 rolls customers up to the 25-nation stratum grain BEFORE any
    window: the plan's windows sit above aggregates, and the only
    nested-loop join is the broadcast of the 1-row total."""
    plan = plan_of(spark, "q82_neyman_allocation")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_t52_simpson_is_two_rollups_no_window(spark):
    """t52 is pure rollup arithmetic: (source,token) counts then a
    source-grain aggregate — no window, no join of any kind, no
    transcendental-bearing shuffle."""
    plan = plan_of(spark, "t52_simpson_diversity")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_t53_llr_topk_window_is_source_keyed(spark):
    """t53's top-k window partitions by source; the token-total join is
    an equi-join on the count table's own key and the source totals /
    grand total ride broadcasts — no cartesian fallback."""
    plan = plan_of(spark, "t53_llr_keywords")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_g09_assortativity_is_equi_joins_no_window(spark):
    """g09's only edge-side work is the edge list equi-joined twice
    against its own degree table; the moments meet in a broadcast of
    two single-row aggregates — no cartesian, no window, no sort."""
    plan = plan_of(spark, "g09_degree_assortativity")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_q83_price_index_self_join_is_partkey_equi(spark):
    """q83's year-over-year match is a self-join co-partitioned on
    partkey (the +1-year predicate rides the same equi-join) — no
    cartesian, no window anywhere in the plan."""
    plan = plan_of(spark, "q83_price_index")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_q84_km_windows_are_keyed_or_day_grid(spark):
    """q84 has exactly one population-sized window (per-customer order
    ranking, custkey-partitioned); the unpartitioned cumulative
    windows run above the day-grid aggregate, so the plan shows an
    aggregate between the subject table and the global windows."""
    plan = plan_of(spark, "q84_km_repeat_purchase")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan
    assert "HashAggregate" in plan, plan


def test_e34_acf_is_grid_self_join_no_window(spark):
    """e34's lag alignment is an equi-join of the daily frame against
    itself on (type, day-index) — no window, no cartesian beyond the
    broadcast 7-row lag frame."""
    plan = plan_of(spark, "e34_autocorrelation")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_q85_ltv_window_rides_cohort_age_grid(spark):
    """q85's cumulative window partitions by cohort and runs over the
    (cohort, age) grid — the plan shows aggregates below the Window
    (cohort assignment, then grid revenue), never a raw-order sort."""
    plan = plan_of(spark, "q85_cohort_ltv")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_t54_burstiness_is_rollups_take_ordered(spark):
    """t54 is two count rollups and a TakeOrderedAndProject top-k cut —
    no window, no global sort, no cartesian."""
    plan = plan_of(spark, "t54_token_burstiness")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_s20_balance_rides_broadcast_centroids(spark):
    """s20's assignment stage broadcasts the fixed centroids (the
    shared ranked-cells shape); the audit itself is cell-grain — no
    cartesian fallback, no shuffle join for the centroid lookup."""
    plan = plan_of(spark, "s20_ivf_balance")
    assert "CartesianProduct" not in plan, plan


def test_x12_grid_is_vocab_side_fold_no_cartesian(spark):
    """x12's grid hashes the DISTINCT vocabulary (count rollup below
    the posexplode) and the probe join broadcasts the depth*width
    grid — no cartesian, no shuffle join for the probe."""
    plan = plan_of(spark, "x12_count_sketch")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q86_elasticity_is_broadcast_dim_one_rollup(spark):
    """q86 is the q81 shape with a dim join: broadcast part dim onto
    the fact scan, one brand-grain moment aggregate — no window, no
    sort exchange, no cartesian."""
    plan = plan_of(spark, "q86_price_elasticity")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_e35_entropy_rate_matrix_is_broadcast(spark):
    """e35's only data-sized work is the LAG window + count shuffle
    behind e18's transition matrix; every later join (row totals, pi
    steps, entropy terms) lives on the states^2 grid and broadcasts —
    no cartesian fallback."""
    plan = plan_of(spark, "e35_markov_entropy_rate")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q87_abc_windows_ride_block_histogram(spark):
    """q87's cumulative window runs over the revenue-block histogram —
    two aggregate pairs (part grain, block grain) sit below the
    Window, never a global sort of raw parts (the e33 rank-block
    discipline)."""
    plan = plan_of(spark, "q87_abc_classes")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_q88_migration_is_custkey_self_join_no_window(spark):
    """q88's year-over-year match is a custkey-co-partitioned equi
    self-join on the (customer, year) rollup; band assignment is a
    literal-edge CASE — no window, no cartesian."""
    plan = plan_of(spark, "q88_spend_band_migration")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_q89_weibull_fit_rides_km_grid(spark):
    """q89's regression runs on the shared KM day grid: the plan shows
    the custkey-keyed ranking window and the grid windows below one
    all-to-one moment aggregate — no cartesian beyond broadcast
    single-row frames."""
    plan = plan_of(spark, "q89_weibull_reorder")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_g10_rich_club_counts_without_pair_enumeration(spark):
    """g10 counts surviving edges per threshold on the g09 edge-degree
    equi-join with a broadcast 5-row grid — no cartesian fallback, no
    window, no global sort."""
    plan = plan_of(spark, "g10_rich_club")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_m09_pair_join_is_hash_equi(spark):
    """m09's candidate pairs ride the fp_hash equi-join (the m08
    banding discipline on audio landmarks) — no cartesian, no
    nested-loop all-pairs fallback."""
    plan = plan_of(spark, "m09_audio_neardup_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_t55_waterfall_has_no_cross_stage_cartesian(spark):
    """t55's three stages chain anti-joins off keeper rollups; the only
    pair join is d17's block-bounded prefix check — no cartesian, and
    the single-row stage summaries meet via broadcast."""
    plan = plan_of(spark, "t55_dedup_waterfall")
    assert "CartesianProduct" not in plan, plan


def test_x13_bitmap_is_distinct_rollup_no_join_blowup(spark):
    """x13's sketch side is one DISTINCT (source, bucket) rollup — no
    cartesian, no window; the exact side joins at source grain."""
    plan = plan_of(spark, "x13_linear_counting")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_e36_affinity_rides_session_keyed_joins(spark):
    """e36's pair join is keyed by (user, session) with broadcast type
    totals — no cartesian fallback; the sessionization windows are
    user-partitioned."""
    plan = plan_of(spark, "e36_session_affinity")
    assert "CartesianProduct" not in plan, plan


def test_q90_hhi_is_two_rollups_broadcast_dims(spark):
    """q90 is the t52 exact-rational shape on market shares: broadcast
    dim joins, a (nation, supplier) rollup, a nation rollup — no
    window, no cartesian, no per-supplier share materialization."""
    plan = plan_of(spark, "q90_supplier_hhi")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_e37_rank_windows_ride_daily_frame(spark):
    """e37's ranking windows partition by event type over the daily
    frame (an aggregate sits below the Window), and the H arithmetic
    runs on 7-row group frames — no cartesian."""
    plan = plan_of(spark, "e37_kruskal_wallis")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan
    assert "HashAggregate" in plan, plan


def test_e38_peaks_are_grid_joins_no_window(spark):
    """e38's neighbour lookups are gap-safe day-index equi-joins on the
    daily frame with broadcast type totals — no window, no cartesian,
    and the prominence gate is a pure integer filter."""
    plan = plan_of(spark, "e38_peak_days")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_t56_bpe_counts_ride_vocab_not_corpus(spark):
    """t56's pair counting hashes the DISTINCT word vocabulary (a count
    rollup sits below the character explode) and each round's argmax
    is a top-1 TakeOrdered over the alphabet-bounded pair table; the
    merge rule reaches the rewrite as a broadcast."""
    plan = plan_of(spark, "t56_bpe_merges")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_s21_rank_audit_lives_on_shortlist_grain(spark):
    """s21's Spearman machinery runs on queries x shortlist rows below
    q_id-keyed windows; the embedding joins are vec_id equi-joins — no
    cartesian fallback."""
    plan = plan_of(spark, "s21_adc_rank_correlation")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_q91_ranks_ride_value_grid_not_population(spark):
    """q91's midrank machinery aggregates off the cent-VALUE grid: a
    value rollup sits below the cumulative window (the e33/q87
    rank-block discipline), so exact ranks never sort the order
    population — no cartesian beyond broadcast single-row frames."""
    plan = plan_of(spark, "q91_mann_whitney")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_no_bare_actions_in_plan_builders():
    """Plan builders must stay LAZY: merely building a query can never
    trigger an action (m08's eager fp.count() once ran the full PNG
    decode pipeline inside the builder — ADVICE r7). Grep-style pin
    over every plans/ source file: no statement-level .count() /
    .collect() / .show() / .toPandas() / .first(). Actions that feed a
    variable or expression (bounded-state collects in operators/) are
    out of scope — this scans plans/ only, where builders return
    DataFrames for an external consumer to act on."""
    import pathlib
    import re

    plans_dir = (
        pathlib.Path(__file__).resolve().parents[1]
        / "e_commerce_data_engineering_spark"
        / "plans"
    )
    bare_action = re.compile(
        r"^\s+\w[\w.]*\.(count|collect|show|toPandas|first|take)\(\)\s*(#.*)?$"
    )
    offenders = []
    for src in sorted(plans_dir.glob("*.py")):
        for i, line in enumerate(src.read_text().splitlines(), 1):
            if bare_action.match(line):
                offenders.append(f"{src.name}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_m10_portable_pair_join_is_df_capped_hash_equi(spark):
    """m10 (m09's hash-checked twin) rides the SAME fp_hash equi-join
    shape as m09, with the df-cap aggregate sitting BELOW the pair
    join — no cartesian, no nested-loop all-pairs, and the hot-key
    guard visible as an extra aggregate+join pair."""
    plan = plan_of(spark, "m10_portable_audio_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # df-cap + pair count


def test_t57_encode_rides_vocab_grain_broadcast_merges(spark):
    """t57 encodes once per DISTINCT vocab word — the merge rules
    arrive as broadcast single-row frames (BNLJ over one row is the
    sanctioned shape), the (source, token) rollup joins the encoded
    vocab by token equi-join, and no CartesianProduct appears."""
    plan = plan_of(spark, "t57_bpe_apply")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "q92_price_spread_ratio",
        "q93_order_gap_percentiles",
        "q94_priority_mix_shift",
        "q95_holiday_lift",
        "e39_transition_dwell",
        "e40_powerlaw_tail_fit",
        "t58_winsorized_quality",
        "t59_kneedle_threshold",
        "d18_minhash_band_tuning",
        "s22_ann_frontier",
        "g11_bipartite_projection",
        "x14_theta_sketch_diff",
    ],
)
def test_round8_additions_avoid_cartesian(spark, name):
    """No round-8 query may fall back to CartesianProduct — every
    cross join in these plans is a deliberate broadcast of a scalar,
    config-grid, or dimension frame (s22's probe/rerank grids, d18's
    6-config menu, e40's single-row threshold)."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_q92_topk_is_take_ordered_broadcast_dim(spark):
    """q92 cuts its top brands with TakeOrderedAndProject over a
    broadcast part-dim join — no global sort, no shuffle on part."""
    plan = plan_of(spark, "q92_price_spread_ratio")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q93_percentiles_ride_value_grid(spark):
    """q93's cumulative window sits above a (segment, gap) value-grid
    rollup — a HashAggregate BELOW the Window — so the gap population
    is never sorted (the q91/e33 rank-block shape)."""
    plan = plan_of(spark, "q93_order_gap_percentiles")
    assert "Window" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_g11_projection_is_capped_equi_join(spark):
    """g11's pair stage rides the customer equi-join with the basket
    cap applied below it (aggregate + join before the pair join); no
    nested-loop fallback anywhere."""
    plan = plan_of(spark, "g11_bipartite_projection")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_x14_pair_stage_joins_sketches_not_users(spark):
    """x14's pair stage fans the K-row sketches over the broadcast
    type-pair grid; the only shuffles are sketch- and audience-grain
    aggregates — no cartesian."""
    plan = plan_of(spark, "x14_theta_sketch_diff")
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "t60_cohens_kappa",
        "e41_dominant_period",
        "e42_fano_burstiness",
        "g12_harmonic_centrality",
    ],
)
def test_round8_batch2_avoid_cartesian(spark, name):
    """Second round-8 batch: kappa's single-row frames broadcast, e41's
    lag fanout multiplies the daily frame only, e42's calendar grid is
    a broadcast bounds join, g12's BFS unroll is the g04-shaped edge
    equi-join — no CartesianProduct anywhere."""
    assert "CartesianProduct" not in plan_of(spark, name)


@pytest.mark.parametrize(
    "name",
    [
        "s23_embedding_anisotropy",
        "d19_cross_source_dup_matrix",
        "t61_ttr_by_length",
    ],
)
def test_round8_batch3_avoid_cartesian(spark, name):
    """Third round-8 batch: s23's moment fold is dim-grain, d19's pair
    stage rides the fingerprint equi-join, t61's quintile fences are a
    broadcast 5-row frame — no CartesianProduct."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_percentile_fences_are_integer_ceil_division():
    """The rank-block fences must use exact integer ceil-division, not
    CEIL(double literal * n): DuckDB multiplies by a DECIMAL 0.2/0.9
    (exact) while a Spark double literal overshoots when pct*n lands
    on an integer — caught live at sf0.001 in t61. Grep-style pin:
    no F.ceil over a float-literal threshold in plans/."""
    import pathlib
    import re

    plans_dir = (
        pathlib.Path(__file__).resolve().parents[1]
        / "e_commerce_data_engineering_spark"
        / "plans"
    )
    bad = re.compile(r"F\.ceil\(\s*(F\.lit\()?\s*0?\.\d|F\.ceil\(F\.col\([^)]*\)\s*\*\s*0?\.\d")
    offenders = []
    for src in sorted(plans_dir.glob("*.py")):
        for i, line in enumerate(src.read_text().splitlines(), 1):
            if bad.search(line):
                offenders.append(f"{src.name}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


@pytest.mark.parametrize(
    "name",
    ["q96_seasonal_decompose", "t62_dedup_survivorship"],
)
def test_round8_batch4_avoid_cartesian(spark, name):
    """Fourth round-8 batch: q96's 13-offset MA self-join runs on the
    month-grain frame with a broadcast offset grid; t62's fate labels
    are doc_id equi-joins off the shared t55 chain — no
    CartesianProduct."""
    assert "CartesianProduct" not in plan_of(spark, name)


@pytest.mark.parametrize(
    "name",
    [
        "t63_winnowing_fingerprints",
        "t64_perplexity_buckets",
        "q97_bootstrap_ci",
        "g13_hits_scores",
        "s24_label_silhouette",
        "q98_seasonal_anomaly",
    ],
)
def test_round8_batch5_avoid_cartesian(spark, name):
    """Fifth round-8 batch: t63 is pure per-row HOFs, t64/q98 broadcast
    scalar fence frames, q97's replicate fan-out is a broadcast 32-row
    grid, g13 is pure edge equi-joins, s24 scores via the dim equi-join
    — no CartesianProduct anywhere."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_t63_winnowing_is_shuffle_free(spark):
    """t63 selects fingerprints entirely inside per-row higher-order
    functions: the plan has NO shuffle exchange at all."""
    plan = plan_of(spark, "t63_winnowing_fingerprints")
    assert "Exchange" not in plan, plan


def test_g13_topk_is_take_ordered(spark):
    """g13 cuts each side with TakeOrderedAndProject before the rank
    window ever runs — the window sees only the cut rows."""
    plan = plan_of(spark, "g13_hits_scores")
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize(
    "name",
    ["d20_winnowing_pairs", "s25_top_component", "a04_asof_nearest",
     "t65_rake_keywords", "s26_abtt_retrieval_shift",
     "q99_concentration_ratios"],
)
def test_round8_batch6_avoid_cartesian(spark, name):
    """Sixth round-8 batch: d20's pair stage is a df-capped fingerprint
    equi-join, s25's Gram pass is per-row HOFs into a 4096-key
    aggregate with broadcast dim-sum joins — no CartesianProduct."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_s25_gram_pass_has_no_vector_join(spark):
    """s25 must build the covariance WITHOUT self-joining the exploded
    vector frame: the only joins in the plan sit above the 4096-row
    Gram aggregate (broadcast dim-sum frames), so no shuffle ever
    carries data-grain rows twice."""
    plan = plan_of(spark, "s25_top_component")
    assert "SortMergeJoin" not in plan, plan


def test_t66_readability_is_shuffle_free(spark):
    """t66 computes sentences/words/syllables entirely inside per-row
    regex + HOF folds: the plan has NO shuffle exchange at all."""
    plan = plan_of(spark, "t66_readability")
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["q100_kendall_tau", "q101_pettitt_changepoint", "q102_runs_test",
     "q103_safety_stock", "e43_bh_fdr", "s27_mmr_rerank",
     "s28_participation_ratio", "t67_kneser_ney", "t68_yule_k"],
)
def test_round9_batch1_avoid_cartesian(spark, name):
    """First round-9 batch: q100's pair masses come from the bounded
    value-grid self-join (flag-keyed), e43's x16 experiment fan-out and
    s27's probe fan-out are broadcast nested-loop joins over tiny
    frames, q103's part dim rides in broadcast — no CartesianProduct
    anywhere."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_s27_shortlist_is_cached_and_narrow(spark):
    """s27's greedy MMR loop must reuse the persisted q_id-partitioned
    shortlist (InMemoryTableScan in the plan) rather than recomputing
    the exact-cosine scoring per unrolled step."""
    plan = plan_of(spark, "s27_mmr_rerank")
    assert "InMemoryTableScan" in plan, plan


def test_q103_part_dim_is_broadcast(spark):
    """q103 joins the 25-brand part dim to the weekly demand rollup via
    broadcast, never a shuffle of the fact side against the dim."""
    plan = plan_of(spark, "q103_safety_stock")
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name",
    ["x15_sample_quantiles", "d21_dedup_consensus", "q105_wasserstein_drift"],
)
def test_round9_batch2_avoid_cartesian(spark, name):
    """Second round-9 batch: x15's sample bit rides the one value-grid
    rollup, d21 unions three banded/blocked pair stages, q105's year
    pair fan-out is a broadcast equi-join on yr+1 = yr — no
    CartesianProduct anywhere."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_x15_single_fact_scan(spark):
    """x15 must compute BOTH the exact and the sampled quantiles off
    ONE scan of orders (the sample counter rides the same rollup), not
    two scans unioned."""
    plan = plan_of(spark, "x15_sample_quantiles")
    # formatted mode prints each scan twice (tree + node detail): count
    # unique scan locations instead
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


@pytest.mark.parametrize(
    "name",
    ["s29_mmr_diversity_gain", "q106_woe_return_risk", "q107_did_return_rate"],
)
def test_round9_batch3_avoid_cartesian(spark, name):
    """Third round-9 batch: s29's set-membership joins are broadcast
    equi-joins on (q_id, pick), q106's brand dim and totals ride
    broadcasts, q107 is a 4-cell rollup + pivot — no CartesianProduct
    anywhere."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_q107_single_fact_scan(spark):
    """q107 must read lineitem ONCE: all four DiD cells come off one
    map-side-combinable rollup, never per-cell scans unioned."""
    plan = plan_of(spark, "q107_did_return_rate")
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_t69_panel_broadcast_single_token_rollup(spark):
    """t69's function-word panel joins back as a broadcast; the
    (source, token) rollup happens once — no CartesianProduct, no
    nested-loop pair blowup."""
    plan = plan_of(spark, "t69_burrows_delta")
    assert "CartesianProduct" not in plan, plan


def test_m11_dhash_is_shuffle_free(spark):
    """m11 is a narrow Arrow map over asset bytes — one output row per
    image, NO shuffle exchange anywhere (the m07 scale shape)."""
    plan = plan_of(spark, "m11_image_dhash")
    assert "Exchange" not in plan, plan


def test_no_bare_actions_in_plan_builders():
    """Plan builders must stay LAZY: no .collect() anywhere in plans/,
    and no driver-side scalar actions of the `x = df.count()` shape
    (GroupedData.count() chained inside a plan is fine — it's a lazy
    aggregate). Scalars ride broadcast 1-row frames instead (the s16/
    m08 cleanups)."""
    import re
    from pathlib import Path

    plans = Path(__file__).resolve().parent.parent / (
        "e_commerce_data_engineering_spark/plans"
    )
    bad = []
    assign_count = re.compile(r"=\s*[A-Za-z_][A-Za-z_0-9]*\.count\(\)")
    for src in sorted(plans.glob("*.py")):
        for i, line in enumerate(src.read_text().splitlines(), 1):
            if ".collect()" in line or assign_count.search(line):
                bad.append(f"{src.name}:{i}: {line.strip()}")
    assert not bad, "\n".join(bad)


@pytest.mark.parametrize(
    "name", ["x16_priority_sample_totals", "q108_icc_customer"]
)
def test_round9_batch4_avoid_cartesian(spark, name):
    """Fourth round-9 batch: x16's tau and estimate ride broadcast
    3-row frames back onto the exact totals, q108 is a customer
    rollup folded to one row — no CartesianProduct anywhere."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_q108_single_scan_no_window(spark):
    """q108's grand totals come from a two-level aggregate — one fact
    scan, NO window (the single-partition-window trap never appears)."""
    plan = plan_of(spark, "q108_icc_customer")
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "Window" not in plan, plan


def test_q109_theil_broadcasts_segment_frame(spark):
    """q109's term pass joins the 5-row segment aggregates back onto
    the customer grain as a broadcast — no CartesianProduct, no
    SortMergeJoin of a 5-row frame."""
    plan = plan_of(spark, "q109_theil_inequality")
    assert "CartesianProduct" not in plan, plan


def test_q110_replay_stays_on_grid(spark):
    """q110 replays the policy over (brand, demand-value) grid CELLS —
    the fence joins back as a broadcast, never a CartesianProduct or a
    second week-grain pass."""
    plan = plan_of(spark, "q110_fill_rate")
    assert "CartesianProduct" not in plan, plan


def test_e45_orphan_screen_is_anti_join(spark):
    """e45's attribution screen must be a user-keyed LEFT ANTI join
    with the time range as a residual — never a time cross join."""
    plan = plan_of(spark, "e45_orphan_conversions")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_t71_reuses_cached_kn_stage(spark):
    """t71's fence grids, t06 restriction, and bucket join must all
    read the PERSISTED doc-grain KN frame (InMemoryTableScan), never
    re-run the bigram explode per consumer; no CartesianProduct."""
    plan = plan_of(spark, "t71_lm_quality_agreement")
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_x17_estimate_rides_sketch_grids(spark):
    """x17's estimate joins two fixed-size sketch grids on (depth,
    bucket) — no CartesianProduct, and the only data-sized stages are
    the two event scans feeding the grids."""
    plan = plan_of(spark, "x17_cms_join_size")
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["m12_image_phash", "m13_phash_neardup_pairs", "x18_cms_broadcast_decision",
     "q111_page_hinkley", "q112_mann_kendall_trend", "q113_turning_points",
     "q114_jarque_bera", "q115_eoq_policy"],
)
def test_round10_batch1_avoid_cartesian(spark, name):
    """First round-10 batch: m13's candidates come from the 4x16-bit
    pHash band equi-join, x18's decision row folds two fixed sketch
    grids, the q111-q115 stat tests ride calendar/brand-grain rollups
    with broadcast 1-row moment frames — no CartesianProduct anywhere
    (broadcast single-row/tiny-frame fan-outs compile to
    BroadcastNestedLoopJoin, which is the intended shape)."""
    assert "CartesianProduct" not in plan_of(spark, name)


@pytest.mark.parametrize(
    "name",
    ["t72_vocab_richness", "t73_charset_anomaly_screen",
     "t74_char_bigram_entropy", "e46_session_type_entropy",
     "s30_rank_biased_overlap", "s31_query_likelihood",
     "d22_tfidf_cosine_pairs", "g14_triangle_support"],
)
def test_round10_batch2_avoid_cartesian(spark, name):
    """Second round-10 batch: t72-t74 are (source|lang, token)-grain
    rollups, e46 rides e03's session windows, s30's two rankings come
    from ONE scored frame (two windows, no self-join), s31's term grid
    crosses a broadcast 3-row frame, d22's pairs ride the df-banded
    posting join, g14 the oriented wedge join — no CartesianProduct."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_t73_fence_is_single_row_broadcast(spark):
    """t73's corpus moment frame (m, S, Q) must join back as a
    broadcast 1-row aggregate, never shuffle the doc grain against
    it."""
    plan = plan_of(spark, "t73_charset_anomaly_screen")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_s30_rankings_share_one_scored_frame(spark):
    """s30 must derive BOTH rankings from one scored frame via two
    row_number windows — the plan has exactly one embeddings-scan pair
    (probe + candidates), not four."""
    plan = plan_of(spark, "s30_rank_biased_overlap")
    import re as _re
    scans = len(_re.findall(r"Scan parquet", plan))
    # formatted mode prints each scan TWICE (tree + node detail); probe
    # + candidate + zero-match-guard probe = 3 reads of embeddings max
    assert scans <= 6, f"{scans // 2} scans\n{plan}"


def test_s31_term_grid_is_broadcast(spark):
    """s31's candidates x query-term grid crosses a broadcast 3-row cf
    frame and the 1-row collection stats — both must be broadcast
    joins."""
    plan = plan_of(spark, "s31_query_likelihood")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_d22_pairs_ride_posting_equi_join(spark):
    """d22's candidate pairs must come from the shingle-keyed posting
    equi-join (SortMergeJoin or shuffled hash on the shingle column),
    never a CartesianProduct; the final cut keeps TakeOrdered out (it
    is a filter, so no global sort either)."""
    plan = plan_of(spark, "d22_tfidf_cosine_pairs")
    assert "CartesianProduct" not in plan, plan


def test_g14_histogram_reuses_wedge_plan(spark):
    """g14's support histogram ends in a tiny support-keyed aggregate;
    the triangle stage underneath is g04's oriented wedge join — no
    CartesianProduct, closing edge via LeftSemi."""
    plan = plan_of(spark, "g14_triangle_support")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["q116_spearman_rho", "q117_cramers_v", "q118_newsvendor_cost",
     "e47_intersession_gaps", "s32_lexical_rbo", "q119_ses_forecast",
     "q120_brown_forsythe", "q121_abc_xyz", "q122_intermittency_profile",
     "t75_uncertainty_coefficient"],
)
def test_round10_batch3_avoid_cartesian(spark, name):
    """Late round-10 batch: q116's midranks ride broadcast grid
    margins, q118/q121/q122 are brand/part-grain rollups with
    broadcast dims and fences, q119's SES kernel is a bounded band
    equi-join, s32 joins two TakeOrdered ranker outputs, t75 folds
    three entropies off one grid — broadcast 1-row/tiny fan-outs
    compile to BroadcastNestedLoopJoin, never CartesianProduct."""
    assert "CartesianProduct" not in plan_of(spark, name)


def test_q119_kernel_is_band_equi_join(spark):
    """q119's SES kernel must ride a brand-keyed band join (the rn
    distance is a residual on the brand equi-join) — no
    CartesianProduct, no data-grain window."""
    plan = plan_of(spark, "q119_ses_forecast")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_cms_steered_join_flips_physical_plan(spark):
    """VERDICT r10 #4: the CMS-derived cardinality must STEER the
    physical plan, not just report a string. With the planner's own
    auto-broadcast disabled (no table statistics — the statistics-free
    ingest scenario the sketch exists for), cms_steered_join plans
    BroadcastHashJoin when the sketch-recovered build count fits the
    threshold and SortMergeJoin when it doesn't; the threshold is the
    only thing that changes between the two plans."""
    from e_commerce_data_engineering_spark.operators.sketch import (
        cms_steered_join,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
        cust = load_table(spark, SF, "customer").select(
            "c_custkey", F.col("c_nationkey").alias("n_nationkey")
        )
        n_build = nation.count()  # 25

        bcast = cms_steered_join(
            cust, nation, "n_nationkey", threshold_bytes=n_build * 128
        )
        p1 = bcast._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p1, p1

        shuf = cms_steered_join(
            cust, nation, "n_nationkey", threshold_bytes=n_build * 128 - 1
        )
        p2 = shuf._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p2 and "BroadcastHashJoin" not in p2, p2

        # both strategies compute the same join
        assert bcast.count() == shuf.count() == cust.count()

        # pre-built grid path (the streaming-state shape): decision
        # comes from the handed-in sketch, build is never re-scanned
        from e_commerce_data_engineering_spark.operators.sketch import (
            cms_build_portable,
        )

        grid = cms_build_portable(
            nation.select(F.col("n_nationkey").cast("string").alias("k")),
            "k", 4, 64,
        )
        pre = cms_steered_join(
            cust, nation, "n_nationkey", grid=grid,
            threshold_bytes=n_build * 128,
        )
        assert "BroadcastHashJoin" in pre._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_round11_batch_shapes(spark):
    """Round-11 batch: q125 is a single orders scan with a 10-group
    aggregate (no window, no join on the fact grain); e48's Ljung-Box
    has NO window anywhere (lag alignment is the gap-safe day-index
    equi-join); m15's pixel fan-out is a narrow Arrow map (no window,
    no cartesian); s33 broadcasts the tiny query/tau/block-index frames
    and never goes cartesian beyond the deliberate broadcast probe."""
    p = plan_of(spark, "q125_benford_second_digit")
    assert p.count("Location: InMemoryFileIndex") <= 2, p  # orders scanned for digits + total
    assert "Window" not in p and "CartesianProduct" not in p, p

    p = plan_of(spark, "e48_ljung_box")
    assert "Window" not in p and "CartesianProduct" not in p, p

    p = plan_of(spark, "m15_image_entropy")
    assert "Window" not in p and "CartesianProduct" not in p, p
    assert "MapInPandas" in p or "mapInPandas" in p, p

    p = plan_of(spark, "s33_norm_pruned_topk")
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p

    p = plan_of(spark, "x22_cms_steered_join_audit")
    assert "CartesianProduct" not in p, p


def test_round11_batch2_shapes(spark):
    """Second round-11 batch: g16 reuses g04's oriented wedge join (no
    cartesian, no window past the projection); q127's band self-join is
    occurrence-grid-sized with one data-sized rollup; e49's fit is
    windows-free past the (user, week) distinct and never cartesian
    beyond the broadcast 1-row max-week frame."""
    p = plan_of(spark, "g16_clustering_coefficient")
    assert "CartesianProduct" not in p, p

    p = plan_of(spark, "q127_croston_forecast")
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p  # part dim broadcast

    p = plan_of(spark, "e49_retention_decay")
    assert "CartesianProduct" not in p, p


def test_q129_steered_plan_flips_and_matches_q36(spark):
    """VERDICT r11 #5: the sketch decision integrated into a REAL query
    path — q129 is q36's Q7 shape with the supplier dim→fact join
    planned through cms_steered_join. With auto-broadcast off (the
    no-statistics scenario), the supplier join flips broadcast↔shuffle
    on the sketch threshold alone, and both physical choices produce
    q36's exact rows."""
    from e_commerce_data_engineering_spark.plans.extended import _q36_plan
    from e_commerce_data_engineering_spark.sources.tables import load_table

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        n_supp = load_table(spark, SF, "supplier").count()

        bcast = _q36_plan(spark, SF, steered=True, threshold_bytes=n_supp * 128)
        p1 = bcast._jdf.queryExecution().executedPlan().toString()

        shuf = _q36_plan(spark, SF, steered=True, threshold_bytes=n_supp * 128 - 1)
        p2 = shuf._jdf.queryExecution().executedPlan().toString()

        # identical plans except the supplier join: one broadcast join
        # becomes one sort-merge join when the sketch says "too big"
        # (the lineitem-orders fact join is sort-merge in BOTH plans)
        assert p1.count("BroadcastHashJoin") == p2.count("BroadcastHashJoin") + 1, (
            p1, p2,
        )
        assert p2.count("SortMergeJoin") == p1.count("SortMergeJoin") + 1, (p1, p2)

        rows_ref = sorted(map(tuple, _q36_plan(spark, SF, steered=False).collect()))
        assert sorted(map(tuple, bcast.collect())) == rows_ref
        assert sorted(map(tuple, shuf.collect())) == rows_ref
        assert len(rows_ref) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_round12_batch_shapes(spark):
    """Round-12 batch: g17's per-step work is edge joins + aggregates
    (no cartesian, no window); t77 is one token aggregate + a
    per-source window + a closed-form fit; e50's >= join runs on the
    broadcast k-frame against the session-length HISTOGRAM (a
    BroadcastNestedLoopJoin over histogram-sized input is the intended
    shape — never the session table); x23 is four map-side-combinable
    aggregates; d24/s34 ride the shared anchored-pair machinery (no
    cartesian), and s34 verifies with d24's array_intersect, not a
    per-pair probe into a per-document map (a linear scan per probe,
    O(|A|·|B|) per pair); m16 is a shuffle-free narrow Arrow map."""
    for name in (
        "g17_personalized_pagerank",
        "t77_zipf_slope",
        "x23_linear_counting",
        "d24_containment_pairs",
        "s34_idf_soft_jaccard",
    ):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, (name, p)

    p = plan_of(spark, "s34_idf_soft_jaccard")
    assert "element_at" not in p and "map_from_entries" not in p, p
    assert "array_intersect" in p, p

    p = plan_of(spark, "m16_audio_rms_zcr")
    assert "CartesianProduct" not in p and ("MapInPandas" in p or "mapInPandas" in p), p
    assert "Exchange" not in p, p  # narrow map: decode never shuffles


def test_round12_batch2_shapes(spark):
    """Second round-12 batch: t78's growth curve is one min-aggregate
    over the exploded type postings + one doc-grain window (no
    cartesian); e51 is one LEAD window + a types² aggregate; q130 is a
    customer-grain aggregate + three windows — the orders fact is
    scanned ONCE; x24's membership check is broadcast equi-joins on
    the bit-position frame (the k-index fan-outs are deliberate tiny
    broadcasts, never a data-sized cartesian)."""
    for name in (
        "t78_heaps_shingle_growth",
        "e51_markov_transitions",
        "x24_bloom_prefilter",
    ):
        assert "CartesianProduct" not in plan_of(spark, name), name

    p = plan_of(spark, "q130_rfm_segments")
    assert "CartesianProduct" not in p, p
    assert p.count("Location: InMemoryFileIndex") == 1, p  # one orders scan


def test_m17_header_only_narrow_map(spark):
    """m17's DQT readback is a shuffle-free narrow Arrow map until the
    2-group digest rollup — no pixel decode, no cartesian."""
    p = plan_of(spark, "m17_jpeg_qtable_readback")
    assert "CartesianProduct" not in p, p
    assert "MapInPandas" in p or "mapInPandas" in p, p


def test_round12_batch3_shapes(spark):
    """Third round-12 batch: s35's angle mass comes from the deliberate
    broadcast-probe scan (BroadcastNestedLoopJoin over the 5-probe
    frame — never a corpus² cartesian) with a 4-row config broadcast;
    e52's stages are min-aggregates + user-grain equi-joins with the
    event-type filters pushed to the parquet scan."""
    p = plan_of(spark, "s35_lsh_bits_tuning")
    assert "CartesianProduct" not in p, p

    p = plan_of(spark, "e52_funnel_conversion")
    assert "CartesianProduct" not in p, p
    assert "PushedFilters" in p or "pushedFilters" in p.lower() or "view" in p, p


def test_round12_batch4_shapes(spark):
    """Fourth round-12 batch (training-data-pipeline ops): q131's split
    is pure column arithmetic — one scan, one groupBy, one tiny
    window, no join at all; t79's packing audit is one per-source
    window sort + one groupBy; q132's two windows share ONE
    partition/order key so the whole SCD2 build is a single sort (one
    Sort node below the windows, no second exchange between them);
    g18's per-level peel is degree aggregates + LeftSemi restrictions
    (no cartesian); s36's scoring joins are broadcast probe/grid
    frames against the element-grain stream (BroadcastHashJoin, never
    a vector-grain cartesian)."""
    p = plan_of(spark, "q131_stratified_split")
    assert "CartesianProduct" not in p and "Join" not in p, p

    p = plan_of(spark, "t79_concat_chunk_packing")
    assert "CartesianProduct" not in p and "Join" not in p, p

    p = plan_of(spark, "q132_scd2_priority_runs")
    assert "CartesianProduct" not in p, p
    # lag-flag window and cumsum window collapse onto one sort order:
    # exactly one exchange keyed on the customer column
    assert p.count("hashpartitioning(o_custkey") == 1, p

    p = plan_of(spark, "g18_core_decomposition")
    assert "CartesianProduct" not in p, p
    # since r12 each peel level lives on the scratch-parquet frame
    # tier, so the LeftSemi restriction is pinned on the LEVEL BUILD
    # plan (what executes once per process), not the cached readout
    from e_commerce_data_engineering_spark.plans.round12b import _g18_peel_level
    from e_commerce_data_engineering_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").select(
        F.col("l_suppkey").alias("src"), F.col("l_orderkey").alias("dst")
    )
    lvl = _g18_peel_level(li, 2, 8)
    bp = lvl._jdf.queryExecution().explainString(
        lvl._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "LeftSemi" in bp, bp
    assert "CartesianProduct" not in bp, bp

    p = plan_of(spark, "s36_sq_bits_recall")
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p

    # m18: decode map emits sample grain; islands/count windows stay
    # asset-partitioned (no cross-asset shuffle key), no cartesian
    p = plan_of(spark, "m18_audio_silence_runs")
    assert "CartesianProduct" not in p, p
    assert "MapInPandas" in p or "mapInPandas" in p, p

    # q133: the only cross joins are 1-row stats / 3-row probe
    # broadcasts (never a data-sized cartesian); g19's moment joins
    # are node-keyed equi-joins over the cached edge list
    p = plan_of(spark, "q133_zorder_file_skipping")
    assert "CartesianProduct" not in p, p

    p = plan_of(spark, "g19_community_modularity")
    assert "CartesianProduct" not in p, p
    assert "InMemoryTableScan" in p, p  # edge + label frames ride the cache

    # d25: candidate generation is an equi-join on the deletion
    # variant (SortMergeJoin/ShuffledHashJoin on var), NEVER all-pairs;
    # the only cross join is the 1-row stats broadcast
    p = plan_of(spark, "d25_symspell_blocking_recall")
    assert "CartesianProduct" not in p, p

    # e53: path windows share the user-keyed sort; the credit join is
    # a user+path equi-join (SortMergeJoin), never nested-loop
    p = plan_of(spark, "e53_position_attribution")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p

    # m19: corrupt -> verify are two narrow Arrow maps; no exchange
    # until the tiny (fmt, verdict) rollup
    p = plan_of(spark, "m19_asset_integrity")
    assert "CartesianProduct" not in p, p
    assert p.count("MapInPandas (") == 2, p  # tree nodes only
