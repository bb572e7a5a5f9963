#!/usr/bin/env python3
"""Scale-stress harness: how the committed queries' wall time grows when
the input multiplies, holding the cluster fixed (local[$SPARK_GRAFT_CPUS]).

Every op runs a registered query, ``all_queries()[q](spark, root)``,
against a replica root laid out like an sf dir (``<root>/<table>.parquet``),
so ``load_table`` and the plan run unchanged: the timed plan IS the
committed plan. Each scale K gets two replica roots under
$SPARK_GRAFT_SCALE_DIR/x{K}, built from the $SPARK_GRAFT_SF_DIR tables
(sf0.1 by default):

- ``clones``: each table K times, replica i with its REPLICA_KEYS
  columns shifted by i*10_000_000, so every key join sees K disjoint
  replicas. Documents are exact copies: duplicate groups are K deep,
  the realistic worst case for dedup (bucket sizes grow K-fold), which
  separates pair enumeration (quadratic in bucket size) from the
  greedy / CC scale paths.
- ``salted``: as ``clones``, except that replica i > 0 of documents
  also runs its text through a per-replica alphabet permutation: K
  DISJOINT corpora, each carrying the base corpus's planted near-dup
  structure, so banded pair generation should scale ~linearly in K.
  Token shapes are kept (letters map to letters, space fixed), so each
  replica's shingle statistics match the base corpus.

Each timed run clears the Spark cache, the frame tier and the IVF index
cache first, then writes the query to the noop sink (``bench.materialize``:
a count() would let Catalyst prune projections) and takes rows_out from
an Observation on that same write. The first scale also runs every op
once untimed, so whole-stage-codegen JIT is not billed to it.

Prints one JSON line per (op, scale) with rows_in (the op's first
table), rows_out and seconds, then the time ratio of every run to the
op's 1x run. A scale-safe query shows time ratios tracking the data
ratio (~K), not K².

Env: SPARK_GRAFT_SCALES (default 1,4,16), SPARK_GRAFT_OPS (comma list:
run only these ops and replicate only what they read),
SPARK_GRAFT_REUSE_REPLICAS=1 (keep replica tables an earlier run wrote;
they are deterministic functions of (table, K), so reuse is exact).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from e_commerce_data_engineering_spark.frames import clear_frame_cache  # noqa: E402
from e_commerce_data_engineering_spark.operators.similarity import clear_ivf_cache  # noqa: E402
from e_commerce_data_engineering_spark.plans.registry import all_queries  # noqa: E402
from e_commerce_data_engineering_spark.session import get_spark  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale")
SCALES = [int(s) for s in os.environ.get("SPARK_GRAFT_SCALES", "1,4,16").split(",")]
_REUSE = os.environ.get("SPARK_GRAFT_REUSE_REPLICAS") == "1"

# table -> key columns shifted by i*10_000_000 in replica i. Every key
# and the foreign keys that point at it shift together, so each
# dim->fact join keeps its K-replica structure.
REPLICA_KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

_ALPHA = "abcdefghijklmnopqrstuvwxyz"

# op -> (registered query, replica root, tables the query reads; the
# first is the op's rows_in). Op names are kept from the earlier
# harness so SCALING.md rows stay comparable.
OPS = {
    "join_agg": ("q14_range_join", "clones", ("lineitem", "orders")),
    "event_windows": ("e02_tumbling_window", "clones", ("events",)),
    "exact_dedup": ("t03_exact_dedup", "clones", ("documents",)),
    "greedy_lsh_dedupe": ("d03_minhash_dedupe", "clones", ("documents",)),
    "ivf_ann_probe": ("s05_ivf_cosine_topk", "clones", ("embeddings",)),
    "semdedup": ("d06_semdedup", "clones", ("embeddings",)),
    "ppjoin_t09": ("t09_similarity_join", "clones", ("documents",)),
    "segment_dedup_t29": ("t29_segment_dedup", "clones", ("documents",)),
    "triangles_g04": ("g04_triangle_counts", "clones", ("lineitem", "orders")),
    "kcore_g06": ("g06_kcore_prune", "clones", ("lineitem", "orders")),
    "dup_spans_t40": ("t40_dup_spans", "clones", ("documents",)),
    "ivfpq_adc_s11": ("s11_ivfpq_topk", "clones", ("embeddings",)),
    "link_pred_g07": ("g07_link_prediction", "clones", ("lineitem",)),
    "pmi_t48": ("t48_pmi_cooccurrence", "clones", ("documents",)),
    "assortativity_g09": ("g09_degree_assortativity", "clones", ("lineitem", "orders")),
    "price_index_q83": ("q83_price_index", "clones", ("lineitem",)),
    "llr_keywords_t53": ("t53_llr_keywords", "clones", ("documents",)),
    "km_survival_q84": ("q84_km_repeat_purchase", "clones", ("orders",)),
    "dedup_waterfall_t55": ("t55_dedup_waterfall", "clones", ("documents",)),
    "session_affinity_e36": ("e36_session_affinity", "clones", ("events",)),
    "count_sketch_x12": ("x12_count_sketch", "clones", ("documents",)),
    "bipartite_g11": ("g11_bipartite_projection", "clones", ("lineitem", "orders")),
    "theta_diff_x14": ("x14_theta_sketch_diff", "clones", ("events",)),
    "gap_percentiles_q93": ("q93_order_gap_percentiles", "clones", ("orders", "customer")),
    "hits_g13": ("g13_hits_scores", "clones", ("lineitem", "orders")),
    "bootstrap_q97": ("q97_bootstrap_ci", "clones", ("orders", "customer")),
    "winnowing_t63": ("t63_winnowing_fingerprints", "clones", ("documents",)),
    "wasserstein_q105": ("q105_wasserstein_drift", "clones", ("orders",)),
    "minhash_pairs_d09": ("d09_portable_minhash_pairs", "salted", ("documents",)),
    "abtt_s26": ("s26_abtt_retrieval_shift", "clones", ("embeddings",)),
    "spectral_s25": ("s25_top_component", "clones", ("embeddings",)),
    "cross_dup_d19": ("d19_cross_source_dup_matrix", "salted", ("documents",)),
    "cms_decision_x18": (
        "x18_cms_broadcast_decision",
        "clones",
        ("lineitem", "orders", "customer", "supplier", "nation", "part"),
    ),
    "consensus_d21": ("d21_dedup_consensus", "salted", ("documents",)),
    "containment_d24": ("d24_containment_pairs", "salted", ("documents",)),
    "soft_jaccard_s34": ("s34_idf_soft_jaccard", "salted", ("documents",)),
    "mmr_gain_s29": ("s29_mmr_diversity_gain", "clones", ("embeddings",)),
    "sq_bits_s36": ("s36_sq_bits_recall", "clones", ("embeddings",)),
    "zorder_q133": ("q133_zorder_file_skipping", "clones", ("orders",)),
    "core_decomp_g18": ("g18_core_decomposition", "clones", ("lineitem", "orders")),
    "modularity_g19": (
        "g19_community_modularity",
        "clones",
        ("lineitem", "orders", "customer", "supplier"),
    ),
}

# t09's and t40's TRUE output grows K² on exact clones (every replica
# pair shares its token sets and full-doc runs), so past x16 the run is
# dominated by materializing the answer itself.
OP_MAX_SCALE = {"ppjoin_t09": 16, "dup_spans_t40": 16}


def replicate(spark, base_sf: str, scale_dir: str, root: str, table: str, k: int) -> int:
    """Write ``<scale_dir>/<root>/<table>.parquet``: the base table K
    times with REPLICA_KEYS shifted per replica (and, in the ``salted``
    root, documents' text permuted per replica). Returns its row count."""
    out = f"{scale_dir}/{root}/{table}.parquet"
    salt = root == "salted" and table == "documents"
    if not (_REUSE and os.path.exists(f"{out}/_SUCCESS")):
        base = spark.read.parquet(f"{base_sf}/{table}.parquet")
        parts = []
        for i in range(k):
            shift = F.lit(i * 10_000_000)
            df = base.withColumns({c: F.col(c) + shift for c in REPLICA_KEYS[table]})
            if salt and i > 0:
                letters = list(_ALPHA)
                random.Random(i).shuffle(letters)
                df = df.withColumn("text", F.translate("text", _ALPHA, "".join(letters)))
            parts.append(df)
        df = reduce(DataFrame.unionByName, parts)
        if salt:
            df = df.repartition(max(32, k))
        df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def time_op(spark, query: str, root: str) -> tuple[int, float]:
    """Build the registered query over ``root`` and write it to the noop
    sink, every shared frame rebuilt. Returns (rows out, wall seconds)."""
    spark.catalog.clearCache()
    clear_frame_cache()
    clear_ivf_cache()
    obs = Observation()
    t0 = time.perf_counter()
    bench.materialize(all_queries()[query](spark, root).observe(obs, F.count(F.lit(1)).alias("n")))
    sec = time.perf_counter() - t0
    return obs.get["n"], round(sec, 2)


def main() -> None:
    spark = get_spark(app_name="scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    only = os.environ.get("SPARK_GRAFT_OPS")
    ops = {o: OPS[o] for o in only.split(",")} if only else OPS
    results = []
    for k in SCALES:
        scale_dir = f"{OUT_ROOT}/x{k}"
        runs = {o: spec for o, spec in ops.items() if k <= OP_MAX_SCALE.get(o, k)}
        rows = {}
        for _, root, tables in runs.values():
            for t in tables:
                if (root, t) not in rows:
                    rows[root, t] = replicate(spark, BASE_SF, scale_dir, root, t, k)
        for op, (query, root, tables) in runs.items():
            if k == SCALES[0]:
                time_op(spark, query, f"{scale_dir}/{root}")
            rows_out, sec = time_op(spark, query, f"{scale_dir}/{root}")
            rec = {"op": op, "scale": k, "rows_in": rows[root, tables[0]], "rows_out": rows_out, "sec": sec}
            results.append(rec)
            print(json.dumps(rec), flush=True)

    base = {r["op"]: r["sec"] for r in results if r["scale"] == 1}
    summary = {
        f"{r['op']}_x{r['scale']}": round(r["sec"] / max(base[r["op"]], 1e-9), 2)
        for r in results
        if r["scale"] > 1
    }
    print(json.dumps({"time_ratio_vs_1x": summary}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
