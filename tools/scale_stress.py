#!/usr/bin/env python3
"""Scale-stress harness: measure how the headline operators scale when
the input multiplies, holding the cluster fixed (local[$SPARK_GRAFT_CPUS]).

Inputs are the sf0.1 driver tables replicated K times with shifted keys
(and shifted timestamps for events), written once per scale to
$SPARK_GRAFT_SCALE_DIR (default /tmp/spark_graft_scale). Replication
gives exact duplicate groups of size K in documents — the realistic
worst case for dedup (bucket sizes grow K-fold), which is exactly what
separates pair-enumeration (quadratic in bucket size) from the greedy /
CC scale paths.

Prints one JSON line per (op, scale) with rows_in, rows_out and
seconds, then a summary of the time ratio vs the 1x run. A scale-safe
operator shows time ratios tracking the data ratio (~K), not K².
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from e_commerce_data_engineering_spark.frames import clear_frame_cache  # noqa: E402
from e_commerce_data_engineering_spark.operators.similarity import clear_ivf_cache  # noqa: E402
from e_commerce_data_engineering_spark.session import get_spark  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale")
SCALES = [int(s) for s in os.environ.get("SPARK_GRAFT_SCALES", "1,4,16").split(",")]


_REUSE = os.environ.get("SPARK_GRAFT_REUSE_REPLICAS") == "1"


def _reusable(spark, out_dir: str):
    """Existing replica dir row count, or None. Lets a re-run after a
    timeout skip the expensive replica rewrite (SPARK_GRAFT_REUSE_
    REPLICAS=1): the replicas are deterministic functions of (table,
    k), so reuse is exact."""
    if not _REUSE:
        return None
    try:
        df = spark.read.parquet(out_dir)
        return df.count()
    except Exception:
        return None


def replicate(spark, table: str, k: int, out_dir: str, key_cols: list[str], ts_col=None):
    n = _reusable(spark, out_dir)
    if n is not None:
        return n
    base = spark.read.parquet(f"{BASE_SF}/{table}.parquet")
    n = base.count()
    parts = []
    for i in range(k):
        df = base
        for c in key_cols:
            df = df.withColumn(c, F.col(c) + F.lit(i * 10_000_000))
        if ts_col is not None and i > 0:
            df = df.withColumn(ts_col, F.col(ts_col) + F.expr(f"INTERVAL {i * 400} DAYS"))
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(out_dir)
    return n * k


def replicate_salted_documents(spark, k: int, out_dir: str) -> int:
    """Documents replicated K times with doc_id shifts AND a per-replica
    alphabet permutation applied to the text (F.translate): replicas are
    DISJOINT corpora, each carrying sf0.1's planted near-dup structure,
    so banded pair generation should scale ~linearly in K — the
    complementary readout to ``replicate``'s exact-clone worst case
    (where the PAIR OUTPUT itself is quadratic in clone-cluster size and
    the greedy/CC operators, not pair enumeration, are the scale path).
    Token shapes are preserved (letters map to letters, space fixed), so
    shingle statistics per replica match the base corpus."""
    import random

    n = _reusable(spark, out_dir)
    if n is not None:
        return n
    base = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    n = base.count()
    alpha = "abcdefghijklmnopqrstuvwxyz"
    parts = []
    for i in range(k):
        letters = list(alpha)
        random.Random(i).shuffle(letters)
        perm = "".join(letters)
        df = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        if i > 0:
            df = df.withColumn("text", F.translate(F.col("text"), alpha, perm))
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(max(32, k)).write.mode("overwrite").parquet(out_dir)
    return n * k


def timed(fn):
    t0 = time.perf_counter()
    rows = fn()
    return rows, round(time.perf_counter() - t0, 2)


# Which replicated tables each op reads — a targeted SPARK_GRAFT_OPS run
# only pays replication for what it measures (image_neardup_m08's corpus
# is generator-built, so it replicates nothing).
OP_TABLES = {
    "join_agg": {"lineitem", "orders"},
    "event_windows": {"events"},
    "exact_dedup": {"documents"},
    "greedy_lsh_dedupe": {"documents"},
    "ivf_ann_probe": {"embeddings"},
    "semdedup": {"embeddings"},
    "ppjoin_t09": {"documents"},
    "segment_dedup_t29": {"documents"},
    "triangles_g04": {"lineitem", "orders"},
    "kcore_g06": {"lineitem", "orders"},
    "dup_spans_t40": {"documents"},
    "ivfpq_adc_s11": {"embeddings"},
    "link_pred_g07": {"lineitem"},
    "pmi_t48": {"documents"},
    "image_neardup_m08": set(),
    "assortativity_g09": {"lineitem", "orders"},
    "price_index_q83": {"lineitem"},
    "llr_keywords_t53": {"documents"},
    "km_survival_q84": {"orders"},
    "dedup_waterfall_t55": {"documents"},
    "session_affinity_e36": {"events"},
    "count_sketch_x12": {"documents"},
    "bipartite_g11": {"lineitem", "orders"},
    "theta_diff_x14": {"events"},
    "gap_percentiles_q93": {"orders"},
    "hits_g13": {"lineitem", "orders"},
    "bootstrap_q97": {"orders"},
    "winnowing_t63": {"documents"},
    "wasserstein_q105": {"orders"},
    "minhash_pairs_d09": {"documents_salted"},
    "sq_bits_s36": {"reg_embeddings"},
    "zorder_q133": {"reg_relational"},
    "core_decomp_g18": {"reg_relational"},
    "modularity_g19": {"reg_relational"},
    # registry-direct ops (VERDICT r10 #5): these time the PRODUCTION
    # plan builders against a replica root laid out like an sf dir
    # ({root}/reg_sf/<table>.parquet), not an inline re-implementation
    "abtt_s26": {"reg_embeddings"},
    "spectral_s25": {"reg_embeddings"},
    "cross_dup_d19": {"salted_sf"},
    "cms_decision_x18": {"reg_relational"},
    # round-12 (VERDICT r11 #4): the two slowest-10 families without a
    # committed curve — d21 over K disjoint salted corpora (all three
    # banded pair families scale with corpus, pair space ~K), s29 over
    # K-replicated embeddings (probe set fixed, candidate corpus xK)
    "consensus_d21": {"salted_sf"},
    "mmr_gain_s29": {"reg_embeddings"},
    # the anchored-pair verify pair: s34 answers d24's question with
    # one extra idf rollup, so its curve should track d24's
    "containment_d24": {"salted_sf"},
    "soft_jaccard_s34": {"salted_sf"},
}


def main() -> None:
    spark = get_spark(app_name="scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    only = os.environ.get("SPARK_GRAFT_OPS")
    only_ops = set(only.split(",")) if only else None
    needed = (
        set().union(*(OP_TABLES[o] for o in only_ops))
        if only_ops
        else {"lineitem", "orders", "events", "documents", "embeddings"}
    )

    for k in SCALES:
        root = f"{OUT_ROOT}/x{k}"
        # l_suppkey shifts too so the g04 co-purchase projection sees K
        # disjoint replica subgraphs (join_agg/dedup ops never read it);
        # l_partkey shifts so g07's co-supply graph is likewise K
        # disjoint replicas (nothing else reads it)
        n_li = n_ord = n_ev = n_doc = n_em = 0
        li = orders = ev = docs = emb = None
        if "lineitem" in needed:
            n_li = replicate(
                spark, "lineitem", k, f"{root}/lineitem",
                ["l_orderkey", "l_suppkey", "l_partkey"],
            )
            li = spark.read.parquet(f"{root}/lineitem")
        if "orders" in needed:
            n_ord = replicate(spark, "orders", k, f"{root}/orders", ["o_orderkey", "o_custkey"])
            orders = spark.read.parquet(f"{root}/orders")
        if "events" in needed:
            n_ev = replicate(spark, "events", k, f"{root}/events", ["event_id", "user_id"])
            ev = spark.read.parquet(f"{root}/events")
        if "documents" in needed:
            n_doc = replicate(spark, "documents", k, f"{root}/documents", ["doc_id"])
            docs = spark.read.parquet(f"{root}/documents")
        if "embeddings" in needed:
            n_em = replicate(spark, "embeddings", k, f"{root}/embeddings", ["vec_id"])
            emb = spark.read.parquet(f"{root}/embeddings")
        n_docsalt = 0
        docs_salted = None
        if "documents_salted" in needed:
            n_docsalt = replicate_salted_documents(spark, k, f"{root}/documents_salted")
            docs_salted = spark.read.parquet(f"{root}/documents_salted")

        # registry-direct replica roots: laid out as sf dirs so the
        # production plan builders run UNCHANGED against them
        reg_sf = f"{root}/reg_sf"
        salted_sf = f"{root}/salted_sf"
        n_reg_em = n_reg_li = n_salt_docs = 0
        if "reg_embeddings" in needed:
            n_reg_em = replicate(
                spark, "embeddings", k, f"{reg_sf}/embeddings.parquet", ["vec_id"]
            )
        if "salted_sf" in needed:
            # SALTED text (disjoint fingerprint vocabularies per replica):
            # d19's collision join sees K disjoint corpora -> pair space
            # grows ~K, the cross-source-matrix scale path; exact clones
            # would grow it K^2 (that worst case is greedy_lsh_dedupe's
            # row, where pair enumeration is avoided entirely)
            n_salt_docs = replicate_salted_documents(
                spark, k, f"{salted_sf}/documents.parquet"
            )
        if "reg_relational" in needed:
            # all six x18 tables with CONSISTENT key shifts so every
            # dim->fact join keeps its K-replica structure
            for tbl, keys in (
                ("nation", ["n_nationkey"]),
                ("supplier", ["s_suppkey", "s_nationkey"]),
                ("customer", ["c_custkey", "c_nationkey"]),
                ("part", ["p_partkey"]),
                ("orders", ["o_orderkey", "o_custkey"]),
                ("lineitem", ["l_orderkey", "l_suppkey", "l_partkey"]),
            ):
                n = replicate(spark, tbl, k, f"{reg_sf}/{tbl}.parquet", keys)
                if tbl == "lineitem":
                    n_reg_li = n

        # join + aggregate (the core relational path)
        def join_agg():
            return (
                li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
                .groupBy("o_orderpriority")
                .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
                .count()
            )

        # event-time tumbling windows
        def windows():
            ts = F.col("ts").cast("timestamp")
            return (
                ev.groupBy(F.window(ts, "1 hour"), "event_type")
                .agg(F.count(F.lit(1)))
                .count()
            )

        # exact dedup: K-fold exact duplicate groups by construction
        def exact_dedup():
            from e_commerce_data_engineering_spark.operators.dedup import dedupe_exact

            return dedupe_exact(docs, "doc_id", "text").count()

        # greedy LSH dedupe: buckets grow K-fold; the no-pair-enumeration
        # claim is exactly what this measures
        def lsh_dedupe():
            from e_commerce_data_engineering_spark.operators.dedup import minhash_dedupe

            return minhash_dedupe(docs, "doc_id", "text").count()

        # IVF ANN probe (index rebuilt per scale)
        def ivf_probe():
            from e_commerce_data_engineering_spark.operators.similarity import (
                ivf_cosine_topk,
            )

            probes = emb.filter(F.col("vec_id") < 5)
            return ivf_cosine_topk(emb, probes, k=5, nlist=16, nprobe=4).count()

        # SemDeDup: K-fold duplicate vectors co-locate in one IVF cell,
        # so the TRUE near-dup pair space grows K² by construction;
        # nlist grows with the data (the documented discipline) so cell
        # size from non-duplicate mass stays constant. Time should
        # track the edge count (output-bound), never n².
        def semdedup_op():
            from e_commerce_data_engineering_spark.operators.dedup import semdedup

            return semdedup(
                emb, "vec_id", "embedding", nlist=16 * k, cos_threshold=0.35
            ).count()

        # Exact PPJoin set-similarity join: replicas have identical
        # token sets, so the TRUE RESULT grows K² — time must track
        # rows_out (output-bound), not the prefix-candidate space.
        def ppjoin():
            from e_commerce_data_engineering_spark.operators.setjoin import (
                jaccard_similarity_join,
            )

            return jaccard_similarity_join(docs, "doc_id", "text", 0.7).count()

        # C4 segment dedup: replica docs are exact copies, so every
        # segment's duplicate group is K deep — keeper selection must
        # stay one groupBy-min + semi-join regardless of group depth.
        def segment_dedup():
            from e_commerce_data_engineering_spark.operators.dedup import (
                dedupe_segments,
            )

            return dedupe_segments(docs, "doc_id", "text", seg_w=8).count()

        # degree-oriented triangle counting over the replicated
        # transaction graph: suppkey+custkey shifts make the K replicas
        # DISJOINT subgraphs, so edges/wedges/triangles all grow K-fold
        # — a linear-scaling target for the wedge join.
        def triangles():
            from e_commerce_data_engineering_spark.operators.graph import (
                triangle_counts,
            )

            # sf0.1-density thresholds (qty>=45, shared>=3: ~3.3k edges,
            # ~123 triangles per replica) — the query's sf0.01 constants
            # leave this tier's projection empty
            co = (
                li.filter(F.col("l_quantity") >= 45)
                .join(orders, li["l_orderkey"] == orders["o_orderkey"])
                .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
                .distinct()
            )
            a = co.select(F.col("c"), F.col("s").alias("u"))
            b = co.select(F.col("c").alias("_c2"), F.col("s").alias("v"))
            ed = (
                a.join(b, (a["c"] == b["_c2"]) & (a["u"] < b["v"]))
                .groupBy("u", "v")
                .agg(F.count(F.lit(1)).alias("shared"))
                .filter(F.col("shared") >= 3)
                .select("u", "v")
            )
            return triangle_counts(ed).count()

        # iterative k-core peel over the same disjoint-replica graph:
        # edges grow K-fold and the peel depth is a property of the
        # per-replica structure (constant in K), so rounds stay fixed
        # and each round's cost should track the edge count — linear.
        def kcore_peel():
            from e_commerce_data_engineering_spark.operators.graph import kcore

            co = (
                li.filter(F.col("l_quantity") >= 45)
                .join(orders, li["l_orderkey"] == orders["o_orderkey"])
                .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
                .distinct()
            )
            a = co.select(F.col("c"), F.col("s").alias("u"))
            b = co.select(F.col("c").alias("_c2"), F.col("s").alias("v"))
            ed = (
                a.join(b, (a["c"] == b["_c2"]) & (a["u"] < b["v"]))
                .groupBy("u", "v")
                .agg(F.count(F.lit(1)).alias("shared"))
                .filter(F.col("shared") >= 3)
                .select("u", "v")
            )
            return kcore(ed, 3).count()

        # IVF-PQ ADC probe (the s11/s15 IVFADC layout): codebooks are
        # trained once per scale (one Lloyd job per iteration, k x dim
        # driver state), then the probe touches only nprobe/nlist of
        # the (cell, codes) table via the cell equi-join and scores 8
        # int codes per candidate — bytes-per-vector bounded, so probe
        # cost should track corpus/nlist plus the one-shot build floor.
        # nlist grows with the data (the s05 discipline) so probed-cell
        # occupancy from non-duplicate mass stays constant.
        def ivfpq_adc():
            from e_commerce_data_engineering_spark.operators.similarity import (
                ivfpq_topk,
                pq_train,
            )

            cb = pq_train(emb, dim=64, m_subs=8, k_codes=16, seed=42)
            probes = emb.filter(F.col("vec_id") < 5)
            return ivfpq_topk(
                emb, probes, cb, k=5, nlist=16 * k, nprobe=4, rerank=50
            ).count()

        # duplicated-span detection: replica docs are exact copies, so
        # every shingle's doc-frequency multiplies by K — the anchor cap
        # must scale with the duplication depth (max_df = 20*K, the
        # documented sizing rule) or true duplicate runs fall to it.
        # True run count grows ~K² (every replica pair shares full-doc
        # runs); time should track rows_out, not corpus².
        def dup_spans():
            from e_commerce_data_engineering_spark.operators.dedup import (
                dup_span_runs,
            )

            return dup_span_runs(docs, "doc_id", "text", w=8, max_df=20 * k).count()

        # ppjoin's TRUE OUTPUT grows K² (replicas have identical token
        # sets), so past x16 the run is dominated by materializing the
        # answer itself — cap it and document the output-bound regime.
        # dup_spans shares ppjoin's quadratic-TRUE-OUTPUT regime on
        # replicas (every replica pair shares full-doc runs)
        # g07-shaped link prediction: l_partkey shifts make the K
        # replicas disjoint co-supply subgraphs, so edges, wedges, and
        # result pairs all grow K-fold — a linear target for the
        # df-capped wedge join.
        def link_pred():
            e = li.select(
                F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
            ).distinct()
            dp = e.groupBy("p").agg(F.count(F.lit(1)).alias("deg_p"))
            ef = e.join(dp, "p").filter(F.col("deg_p") <= 256)
            a = ef.select("p", F.col("s").alias("s_a"))
            b = ef.select(F.col("p").alias("_p2"), F.col("s").alias("s_b"))
            return (
                a.join(b, (a["p"] == b["_p2"]) & (a["s_a"] < b["s_b"]))
                .groupBy("s_a", "s_b")
                .agg(F.count(F.lit(1)).alias("common"))
                .count()
            )

        # t48-shaped PMI pair counting: replica docs are exact copies,
        # so the distinct (center, context) pair SPACE stays constant
        # while pair counts grow K-fold — pair generation is a narrow
        # map and the count shuffle's key space is fixed: linear.
        def pmi_pairs():
            from e_commerce_data_engineering_spark.functions.text import tokens

            tk = tokens(F.col("text"))

            def pairs_at(dd):
                n = F.size(tk) - dd
                return F.when(
                    n > 0,
                    F.zip_with(
                        F.slice(tk, 1, n),
                        F.slice(tk, dd + 1, n),
                        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                    ),
                ).otherwise(F.array())

            pairs = docs.select(
                F.explode(
                    F.flatten(F.array(*[pairs_at(d) for d in (1, 2, 3)]))
                ).alias("z")
            ).select("z.w1", "z.w2")
            return (
                pairs.groupBy("w1", "w2")
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") >= 5)
                .count()
            )

        # m08-shaped image near-dup: PNG corpus grows K-fold (PNG-ONLY —
        # make_real_assets' JPEG/AVI rows would bill driver-side codec
        # ENCODE time to an op that never reads them; at real scale the
        # asset table pre-exists), every PNG paired with its upscaled
        # re-encode. Decode is a narrow map (linear); the 16-bit band
        # join's accidental collision pairs grow ~quadratically in
        # images-per-bucket but stay Hamming-filtered — rows_out tracks
        # that regime.
        def image_neardup():
            from e_commerce_data_engineering_spark.operators.multimodal import (
                ASSET_SCHEMA,
                image_ahash,
                png_bytes,
                upscale_assets,
            )

            n = 40 * k
            rows = []
            for i in range(n):
                w, h = 4 + i % 13, 3 + i % 9
                rows.append(
                    (i, "image", png_bytes(w, h, 42 + i), ("png", w, h, None, None))
                )
            n_parts = max(1, min(spark.sparkContext.defaultParallelism, n // 32))
            assets = spark.createDataFrame(rows, ASSET_SCHEMA).coalesce(n_parts)
            both = assets.unionByName(
                upscale_assets(assets, factor=2, id_offset=1_000_000)
            )
            fp = image_ahash(both).select(
                "asset_id",
                F.conv(F.substring("ahash_bits", 1, 32), 2, 10)
                .cast("bigint")
                .alias("hi"),
                F.conv(F.substring("ahash_bits", 33, 32), 2, 10)
                .cast("bigint")
                .alias("lo"),
            )
            bands = fp.select(
                "asset_id", "hi", "lo",
                F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c"),
            ).withColumn(
                "v",
                F.expr(
                    "CASE WHEN c < 2 THEN shiftright(hi, 16 * (1 - c)) & 65535 "
                    "ELSE shiftright(lo, 16 * (3 - c)) & 65535 END"
                ),
            )
            a = bands.select(
                F.col("asset_id").alias("id_a"), F.col("hi").alias("ha"),
                F.col("lo").alias("la"), "c", "v",
            )
            b = bands.select(
                F.col("asset_id").alias("id_b"), F.col("hi").alias("hb"),
                F.col("lo").alias("lb"), F.col("c").alias("_c2"),
                F.col("v").alias("_v2"),
            )
            cand = (
                a.join(
                    b,
                    (a["c"] == b["_c2"]) & (a["v"] == b["_v2"])
                    & (a["id_a"] < b["id_b"]),
                )
                .select("id_a", "id_b", "ha", "la", "hb", "lb")
                .distinct()
            )
            ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) + F.bit_count(
                F.col("la").bitwiseXOR(F.col("lb"))
            )
            return cand.filter(ham <= 3).count()

        # g09-shaped degree assortativity: suppkey+custkey shifts make
        # the K replicas disjoint subgraphs, so nodes/edges/degree
        # moments all grow K-fold — the edge-degree equi-joins and the
        # all-to-one moment aggregate are a linear target.
        def assortativity():
            base = (
                li.filter(F.col("l_quantity") >= 45)
                .join(orders, li["l_orderkey"] == orders["o_orderkey"])
                .select(
                    F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
                    F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
                )
                .distinct()
            )
            e2 = base.union(
                base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            deg = e2.groupBy(F.col("src").alias("node")).agg(
                F.count(F.lit(1)).cast("bigint").alias("d")
            )
            du = deg.select(F.col("node").alias("src"), F.col("d").alias("du"))
            dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("dv"))
            return (
                e2.join(du, "src")
                .join(dv, "dst")
                .agg(F.sum(F.col("du") * F.col("dv")).alias("sxy"))
                .count()
            )

        # q83-shaped price index: l_partkey shifts make replica
        # (part, year) groups disjoint, so matched pairs grow K-fold
        # and the partkey-co-partitioned year self-join is linear.
        def price_index():
            py = li.groupBy(
                F.col("l_partkey").alias("p"),
                F.year("l_shipdate").alias("y"),
            ).agg(
                F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + 0.5
                    ).cast("bigint")
                ).alias("rev"),
            )
            a = py.select("p", F.col("y").alias("y0"), F.col("qty").alias("q0"))
            b = py.select(
                F.col("p").alias("_p2"),
                F.col("y").alias("y1"),
                (F.col("rev").cast("double") / F.col("qty")).alias("u1"),
            )
            return (
                a.join(b, (a["p"] == b["_p2"]) & (b["y1"] == a["y0"] + 1))
                .groupBy("y0")
                .agg(F.sum(F.col("u1") * F.col("q0")).alias("v"))
                .count()
            )

        # t53-shaped LLR keywords: replica docs are exact copies, so the
        # (source, token) key space is constant while counts grow K-fold
        # — the count shuffles absorb K map-side and the per-source
        # top-k window sorts a fixed vocabulary: flat-ish target.
        def llr_keywords():
            from pyspark.sql import Window as W

            from e_commerce_data_engineering_spark.functions.text import tokens

            tok = docs.select(
                "source", F.explode(tokens(F.col("text"))).alias("tok")
            )
            c = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("a"))
            ct = c.groupBy("tok").agg(F.sum("a").alias("c_all"))
            st = c.groupBy("source").agg(F.sum("a").alias("n1"))
            n = st.agg(F.sum("n1").alias("nn"))
            j = c.join(ct, "tok").join(F.broadcast(st), "source").crossJoin(
                F.broadcast(n)
            )
            scored = j.select(
                "source",
                "tok",
                (
                    F.col("a")
                    * (
                        F.log(F.col("a").cast("double") / F.col("n1"))
                        - F.log(F.col("c_all").cast("double") / F.col("nn"))
                    )
                ).alias("g"),
            )
            w = W.partitionBy("source").orderBy(F.col("g").desc(), "tok")
            return (
                scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 12)
                .count()
            )

        # q84-shaped KM survival: o_custkey shifts make replica cohorts
        # disjoint (K-fold subjects), while the day grid is bounded by
        # the study calendar — the custkey-keyed ranking window is the
        # only population-sized stage: linear.
        def km_survival():
            from pyspark.sql import Window as W

            ww = W.partitionBy("o_custkey").orderBy("od", "o_orderkey")
            ranked = orders.select(
                "o_custkey",
                "o_orderkey",
                F.to_date("o_orderdate").alias("od"),
            ).select(
                "o_custkey", "od", F.row_number().over(ww).alias("rn")
            )
            first = ranked.filter(
                (F.col("rn") == 1) & (F.col("od") < F.lit("1995-07-01").cast("date"))
            ).select("o_custkey", F.col("od").alias("d1"))
            second = ranked.filter(F.col("rn") == 2).select(
                F.col("o_custkey").alias("_c2"), F.col("od").alias("d2")
            )
            end = F.lit("1995-12-31").cast("date")
            obs = F.col("d2").isNotNull() & (F.col("d2") <= end)
            subj = first.join(second, first["o_custkey"] == second["_c2"], "left")
            grid = subj.select(
                F.when(obs, F.datediff(F.col("d2"), F.col("d1")))
                .otherwise(F.datediff(end, F.col("d1")))
                .alias("t"),
                F.when(obs, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
            ).groupBy("t").agg(F.sum("ev").alias("d_ev"))
            return grid.count()

        # t55-shaped staged dedup waterfall: replicas are EXACT copies,
        # so stage 1 (hash dedup) removes (K-1)/K of the corpus and the
        # later stages only ever see one replica's worth of survivors —
        # the sequencing is exactly what keeps the block-bounded prefix
        # join from paying K^2 on duplicate blocks.
        def dedup_waterfall():
            from e_commerce_data_engineering_spark.functions.text import (
                min_shingle_fingerprint,
                tokens,
            )

            s0 = docs.select(
                "doc_id", "text", F.length("text").cast("bigint").alias("len")
            )
            h = F.md5(F.col("text").cast("binary"))
            ex_keep = s0.groupBy(h.alias("h")).agg(F.min("doc_id").alias("keeper"))
            ex_rm = (
                s0.select("doc_id", "len", h.alias("_h"))
                .join(ex_keep, F.col("_h") == ex_keep["h"])
                .filter(F.col("doc_id") > F.col("keeper"))
                .select("doc_id", "len")
            )
            s1 = s0.join(ex_rm.select("doc_id"), "doc_id", "left_anti")
            blk = F.substring("text", 1, 32)
            a = s1.select("doc_id", "len", "text", blk.alias("blk"))
            b = s1.select(
                F.col("len").alias("_len2"),
                F.col("text").alias("_t2"),
                blk.alias("_blk2"),
            )
            pre_rm = (
                a.join(b, (a["blk"] == b["_blk2"]) & (a["len"] < b["_len2"]))
                .filter(F.col("_t2").startswith(F.col("text")))
                .select("doc_id", "len")
                .distinct()
            )
            s2 = s1.join(pre_rm.select("doc_id"), "doc_id", "left_anti")
            tk = tokens(F.col("text"))
            fp = s2.filter(F.size(tk) >= 3).select(
                "doc_id", min_shingle_fingerprint(tk).alias("f")
            )
            fp_keep = fp.groupBy("f").agg(F.min("doc_id").alias("keeper"))
            fp_rm = (
                fp.join(fp_keep, "f")
                .filter(F.col("doc_id") > F.col("keeper"))
                .select("doc_id")
            )
            return ex_rm.count() + pre_rm.count() + fp_rm.count()

        # e36-shaped session affinity: user_id shifts make replica
        # users disjoint, so sessions and (session, type) rows grow
        # K-fold while the type-pair key space stays constant — the
        # user-keyed sessionization windows are the only
        # population-sized stage: linear.
        def session_affinity():
            from pyspark.sql import Window as W

            w = W.partitionBy("user_id").orderBy("ts", "event_id")
            ts = F.col("ts").cast("timestamp")
            ms = F.unix_millis(ts)
            prev = F.lag(ms).over(w)
            flagged = ev.select(
                "user_id", "ts", "event_id", "event_type",
                F.when(prev.isNull() | ((ms - prev) > 30 * 60 * 1000), 1)
                .otherwise(0)
                .alias("ns"),
            )
            st = flagged.select(
                "user_id", "event_type",
                F.sum("ns").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("sess"),
            ).select("user_id", "sess", "event_type").distinct()
            a = st.select("user_id", "sess", F.col("event_type").alias("ta"))
            b = st.select(
                F.col("user_id").alias("_u"), F.col("sess").alias("_s"),
                F.col("event_type").alias("tb"),
            )
            return (
                a.join(b, (a["user_id"] == b["_u"]) & (a["sess"] == b["_s"])
                       & (a["ta"] < b["tb"]))
                .groupBy("ta", "tb")
                .agg(F.count(F.lit(1)).alias("c"))
                .count()
            )

        # x12-shaped Count-Sketch build: replica docs are exact copies,
        # so the distinct vocabulary (and the 3x256 grid) is constant
        # while counts grow K-fold — the sign folds run per DISTINCT
        # token and the grid shuffle's key space is fixed: flat target.
        def count_sketch():
            from e_commerce_data_engineering_spark.functions.text import tokens
            from e_commerce_data_engineering_spark.plans.graph_sketch import cs_grid

            per_tok = (
                docs.select(F.explode(tokens(F.col("text"))).alias("token"))
                .groupBy("token")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            )
            return cs_grid(per_tok).count()

        def bipartite_g11():
            from e_commerce_data_engineering_spark.plans.graph_sketch import (
                G11_BASKET_CAP,
                G11_MIN_SHARED,
            )

            co = (
                li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
                .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
                .distinct()
            )
            keep = co.groupBy("c").agg(F.count(F.lit(1)).alias("b")).filter(
                F.col("b") <= G11_BASKET_CAP
            ).select("c")
            cof = co.join(keep, "c")
            a = cof.select("c", F.col("p").alias("p1"))
            b = cof.select(F.col("c").alias("c2"), F.col("p").alias("p2"))
            return (
                a.join(b, (a["c"] == b["c2"]) & (a["p1"] < b["p2"]))
                .groupBy("p1", "p2")
                .agg(F.count(F.lit(1)).alias("shared"))
                .filter(F.col("shared") >= G11_MIN_SHARED)
                .count()
            )

        def theta_diff_x14():
            from pyspark.sql import Window as W

            from e_commerce_data_engineering_spark.operators.sketch import kmv_hash

            aud = ev.select(
                "event_type", F.col("user_id").cast("string").alias("uid")
            ).distinct()
            hv = aud.select("event_type", kmv_hash(F.col("uid")).alias("hv")).distinct()
            sk = (
                hv.withColumn(
                    "rn", F.row_number().over(W.partitionBy("event_type").orderBy("hv"))
                )
                .filter(F.col("rn") <= 64)
                .select("event_type", "hv")
            )
            return sk.count()

        def gap_percentiles_q93():
            from pyspark.sql import Window as W

            wl = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            seq = orders.select(
                "o_custkey",
                F.datediff(
                    F.col("o_orderdate"), F.lag("o_orderdate").over(wl)
                ).alias("gap"),
            ).filter(F.col("gap").isNotNull())
            vals = seq.groupBy("gap").agg(F.count(F.lit(1)).alias("cnt"))
            wc = W.orderBy("gap")
            cum = vals.select(
                "gap", F.sum("cnt").over(wc).alias("cum"),
                F.sum("cnt").over(W.partitionBy(F.lit(1))).alias("n"),
            )
            return cum.filter(F.col("cum") >= F.ceil(0.5 * F.col("n"))).count()

        def hits_g13():
            e = (
                li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
                .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
                .distinct()
                .persist()
            )
            a0 = e.groupBy("c").agg(F.count(F.lit(1)).alias("a"))
            h1 = e.join(a0, "c").groupBy("s").agg(F.sum("a").alias("h"))
            a2 = e.join(h1, "s").groupBy("c").agg(F.sum("h").alias("a"))
            h2 = e.join(a2, "c").groupBy("s").agg(F.sum("a").alias("h"))
            n = h2.filter(F.col("h") > 0).count()
            e.unpersist()
            return n

        def bootstrap_q97():
            base = orders.select(
                F.col("o_orderkey").alias("kk"),
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
            )
            reps = spark.range(32).select(F.col("id").cast("bigint").alias("r"))
            w = (
                (F.lit(1103515245) * (F.col("kk") % 2147483647)
                 + F.lit(2654435761) * F.col("r")) % 2147483647
            ) % 3
            rep_means = (
                base.crossJoin(F.broadcast(reps))
                .select("r", w.alias("w"), "cents")
                .groupBy("r")
                .agg(F.sum(F.col("w") * F.col("cents")).alias("swc"),
                     F.sum("w").alias("sw"))
            )
            return rep_means.filter(F.expr("swc div sw") > 0).count()

        def winnowing_t63():
            from e_commerce_data_engineering_spark.functions.text import tokens

            g = (
                docs.select(tokens(F.col("text")).alias("ts"))
                .filter(F.size("ts") >= 5)
                .select(
                    F.expr(
                        "transform(sequence(1, size(ts) - 1), "
                        "i -> md5(cast(concat(element_at(ts, i), ' ', "
                        "element_at(ts, i + 1)) as binary)))"
                    ).alias("h")
                )
            )
            sel = g.select(
                F.size(
                    F.array_distinct(
                        F.expr(
                            "transform(sequence(1, size(h) - 3), "
                            "i -> array_min(slice(h, i, 4)))"
                        )
                    )
                ).alias("ns")
            )
            return sel.agg(F.sum("ns")).collect()[0][0]

        def wasserstein_q105():
            from pyspark.sql import Window as W

            # replication shifts keys, not dates: the (year, dollar)
            # grid stays RANGE-bounded while rows_in grows k-fold —
            # exactly the boundedness claim q105's doc makes
            base = (
                orders.select(
                    F.year("o_orderdate").cast("int").alias("yr"),
                    F.floor(F.col("o_totalprice")).cast("bigint").alias("v"),
                )
                .groupBy("yr", "v")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            )
            yrs = base.select("yr").distinct()
            pairs = (
                yrs.alias("a")
                .join(yrs.alias("b"), F.expr("a.yr + 1 = b.yr"))
                .select(F.col("a.yr").alias("ya"), F.col("b.yr").alias("yb"))
            )
            grid = (
                base.join(
                    F.broadcast(pairs),
                    (F.col("yr") == F.col("ya")) | (F.col("yr") == F.col("yb")),
                )
                .groupBy("ya", "yb", "v")
                .agg(
                    F.sum(F.when(F.col("yr") == F.col("ya"), F.col("cnt")).otherwise(0)).alias("ca"),
                    F.sum(F.when(F.col("yr") == F.col("yb"), F.col("cnt")).otherwise(0)).alias("cb"),
                )
            )
            wc = W.partitionBy("ya").orderBy("v")
            wn = W.partitionBy("ya")
            cum = grid.select(
                "ya",
                F.sum("ca").over(wc).alias("cum_a"),
                F.sum("cb").over(wc).alias("cum_b"),
                F.sum("ca").over(wn).alias("n_a"),
                F.sum("cb").over(wn).alias("n_b"),
                F.coalesce(F.lead("v").over(wc) - F.col("v"), F.lit(0)).alias("dv"),
            )
            term = (
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
                .cast("decimal(38,0)")
                * F.col("dv").cast("decimal(38,0)")
            )
            return cum.groupBy("ya").agg(F.sum(term).alias("s")).count()

        # d09's banded pair stage (signature -> band bucket -> verified
        # Jaccard) over K disjoint salted replicas: pairs out grow ~K,
        # buckets stay base-corpus-sized, so wall should track K
        def minhash_pairs_d09():
            from e_commerce_data_engineering_spark.operators.dedup import (
                minhash_lsh_pairs_portable,
            )

            return minhash_lsh_pairs_portable(docs_salted, "doc_id", "text").count()

        # registry-direct ops: the committed production plans, timed
        # against the replica sf roots (VERDICT r10 #5 - the ×256 scale
        # curves for the remaining BENCH slowest-10 families)
        def abtt_s26():
            from e_commerce_data_engineering_spark.plans.similarity import (
                s26_abtt_retrieval_shift,
            )

            return s26_abtt_retrieval_shift(spark, reg_sf).count()

        def spectral_s25():
            from e_commerce_data_engineering_spark.plans.similarity import (
                s25_top_component,
            )

            return s25_top_component(spark, reg_sf).count()

        def cross_dup_d19():
            from e_commerce_data_engineering_spark.plans.advanced import (
                d19_cross_source_dup_matrix,
            )

            return d19_cross_source_dup_matrix(spark, salted_sf).count()

        def cms_decision_x18():
            from e_commerce_data_engineering_spark.plans.graph_sketch import (
                x18_cms_broadcast_decision,
            )

            return x18_cms_broadcast_decision(spark, reg_sf).count()

        def consensus_d21():
            from e_commerce_data_engineering_spark.plans.advanced import (
                d21_dedup_consensus,
            )

            return d21_dedup_consensus(spark, salted_sf).count()

        def containment_d24():
            from e_commerce_data_engineering_spark.plans.round12 import (
                d24_containment_pairs,
            )

            return d24_containment_pairs(spark, salted_sf).count()

        def soft_jaccard_s34():
            from e_commerce_data_engineering_spark.plans.round12 import (
                s34_idf_soft_jaccard,
            )

            return s34_idf_soft_jaccard(spark, salted_sf).count()

        def mmr_gain_s29():
            from e_commerce_data_engineering_spark.plans.similarity import (
                s29_mmr_diversity_gain,
            )

            return s29_mmr_diversity_gain(spark, reg_sf).count()

        # round-12 additions: the new-batch shapes with non-trivial
        # scale behavior (element-grain SQ scoring, two global layout
        # sorts, iterated peel joins, LPA + label joins)
        def sq_bits_s36():
            from e_commerce_data_engineering_spark.plans.round12b import (
                s36_sq_bits_recall,
            )

            return s36_sq_bits_recall(spark, reg_sf).count()

        def zorder_q133():
            from e_commerce_data_engineering_spark.plans.round12b import (
                q133_zorder_file_skipping,
            )

            return q133_zorder_file_skipping(spark, reg_sf).count()

        def core_decomp_g18():
            from e_commerce_data_engineering_spark.plans.round12b import (
                g18_core_decomposition,
            )

            return g18_core_decomposition(spark, reg_sf).count()

        def modularity_g19():
            from e_commerce_data_engineering_spark.plans.round12b import (
                g19_community_modularity,
            )

            return g19_community_modularity(spark, reg_sf).count()

        op_max_scale = {"ppjoin_t09": 16, "dup_spans_t40": 16}
        for name, fn, rows_in in (
            ("join_agg", join_agg, n_li),
            ("event_windows", windows, n_ev),
            ("exact_dedup", exact_dedup, n_doc),
            ("greedy_lsh_dedupe", lsh_dedupe, n_doc),
            ("ivf_ann_probe", ivf_probe, n_em),
            ("semdedup", semdedup_op, n_em),
            ("ppjoin_t09", ppjoin, n_doc),
            ("segment_dedup_t29", segment_dedup, n_doc),
            ("triangles_g04", triangles, n_li),
            ("kcore_g06", kcore_peel, n_li),
            ("dup_spans_t40", dup_spans, n_doc),
            ("ivfpq_adc_s11", ivfpq_adc, n_em),
            ("link_pred_g07", link_pred, n_li),
            ("pmi_t48", pmi_pairs, n_doc),
            ("image_neardup_m08", image_neardup, 40 * k),
            ("assortativity_g09", assortativity, n_li),
            ("price_index_q83", price_index, n_li),
            ("llr_keywords_t53", llr_keywords, n_doc),
            ("km_survival_q84", km_survival, n_ord),
            ("dedup_waterfall_t55", dedup_waterfall, n_doc),
            ("session_affinity_e36", session_affinity, n_ev),
            ("count_sketch_x12", count_sketch, n_doc),
            ("bipartite_g11", bipartite_g11, n_li),
            ("theta_diff_x14", theta_diff_x14, n_ev),
            ("gap_percentiles_q93", gap_percentiles_q93, n_ord),
            ("hits_g13", hits_g13, n_li),
            ("bootstrap_q97", bootstrap_q97, n_ord),
            ("winnowing_t63", winnowing_t63, n_doc),
            ("wasserstein_q105", wasserstein_q105, n_ord),
            ("minhash_pairs_d09", minhash_pairs_d09, n_docsalt),
            ("abtt_s26", abtt_s26, n_reg_em),
            ("spectral_s25", spectral_s25, n_reg_em),
            ("cross_dup_d19", cross_dup_d19, n_salt_docs),
            ("cms_decision_x18", cms_decision_x18, n_reg_li),
            ("consensus_d21", consensus_d21, n_salt_docs),
            ("containment_d24", containment_d24, n_salt_docs),
            ("soft_jaccard_s34", soft_jaccard_s34, n_salt_docs),
            ("mmr_gain_s29", mmr_gain_s29, n_reg_em),
            ("sq_bits_s36", sq_bits_s36, n_reg_em),
            ("zorder_q133", zorder_q133, n_reg_li),
            ("core_decomp_g18", core_decomp_g18, n_reg_li),
            ("modularity_g19", modularity_g19, n_reg_li),
        ):
            if only_ops is not None and name not in only_ops:
                continue
            if k > op_max_scale.get(name, max(SCALES)):
                continue
            if k == SCALES[0]:
                # warm-up: pay whole-stage-codegen JIT outside the timer
                # so the 1x numbers aren't inflated vs later scales
                spark.catalog.clearCache()
                fn()
            # every timed run builds its shared frames: the frame tier
            # and the IVF index cache would otherwise serve the warm-up's
            spark.catalog.clearCache()
            clear_frame_cache()
            clear_ivf_cache()
            rows_out, sec = timed(fn)
            rec = {"op": name, "scale": k, "rows_in": rows_in, "rows_out": rows_out, "sec": sec}
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
