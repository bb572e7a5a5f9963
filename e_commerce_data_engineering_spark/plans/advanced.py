"""Advanced-operator queries: as-of join (DuckDB ASOF oracle), pivot,
correlated-subquery shape, and the rows-only LSH/multimodal entries
(banding randomness is not SQL-expressible; their correctness is
pytest-verified against exact baselines instead — tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frames import tier
from ..operators.asof import asof_join_backward
from ..operators.dedup import (
    minhash_dedupe,
    minhash_lsh_pairs,
    minhash_lsh_pairs_portable,
    simhash_pairs,
)
from ..operators.multimodal import decode_asset
from ..operators.similarity import lsh_cosine_topk
from ..operators.sketch import _P1, sql_portable_hash
from ..sources.tables import load_table
from .money import dmoney, fround, sql_fround, sql_money_sum
from .registry import query
from .text import _DUCK_TOKS


@query(
    "a01_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.ts AS click_ts,
           CAST(epoch_ms(e.ts) - epoch_ms(c.ts) AS BIGINT) AS ms_since_click
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    doc="As-of join: each error event matched to the user's most recent "
    "click. Spark side = union+window nearest-predecessor operator "
    "(operators/asof.py); oracle = DuckDB native ASOF JOIN.",
)
def a01_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join_backward(
        errors, clicks, on="user_id", left_time="ts", right_time="ts", payload_cols=[]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("_asof_time").alias("click_ts"),
        (
            F.unix_millis(F.col("ts").cast("timestamp"))
            - F.unix_millis(F.col("_asof_time").cast("timestamp"))
        ).alias("ms_since_click"),
    )


@query(
    "q21_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {sql_money_sum("CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END")} AS "O",
           {sql_money_sum("CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END")} AS "F"
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot (wide conditional aggregation) via DataFrame .pivot.",
)
def q21_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    out = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum(dmoney("l_quantity")), 2).cast("double"))
    )
    return out


@query(
    "q22_correlated_subquery",
    oracle="""
    SELECT p_partkey, p_type, p_retailprice
    FROM part
    WHERE p_retailprice > (
        SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        FROM part p2 WHERE p2.p_type = part.p_type
    )
    """,
    doc="Correlated scalar subquery (parts above their type's average "
    "price); Spark side decorrelated to a join — what Catalyst does "
    "anyway. Exact-decimal average keeps the boundary deterministic.",
)
def q22_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    avg_per_type = p.groupBy(F.col("p_type").alias("_t")).agg(
        (F.sum(dmoney("p_retailprice")).cast("double") / F.count(F.lit(1))).alias("_avg")
    )
    return (
        p.join(F.broadcast(avg_per_type), F.col("p_type") == F.col("_t"))
        .filter(F.col("p_retailprice") > F.col("_avg"))
        .select("p_partkey", "p_type", "p_retailprice")
    )


@query(
    "d01_minhash_lsh_pairs",
    oracle=None,  # banding candidate generation is not SQL-expressible;
    # recall vs the exact-Jaccard baseline is asserted in tests/test_operators.py
    doc="MinHash-LSH near-duplicate pairs over documents (64 perms, 16 "
    "bands, exact-Jaccard verification at 0.5).",
)
def d01_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=64, bands=16, jaccard_threshold=0.5
    )


_D09_K, _D09_BANDS = 32, 8
_D09_R = _D09_K // _D09_BANDS
_D09_HASH_S = sql_portable_hash("s")


@query(
    "d09_portable_minhash_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              for i in range(1, len(tk) - 1)]) AS shl
        FROM (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents)
        WHERE len(tk) >= 3
    ),
    hs AS (
        SELECT doc_id, shl,
               list_transform(shl, s -> {_D09_HASH_S}) AS hl
        FROM sh
    ),
    sig AS (
        SELECT doc_id, shl,
               [list_min(list_transform(hl, h -> (h * (2*k + 1) + k) % {_P1}))
                for k in range({_D09_K})] AS sigl
        FROM hs
    ),
    banded AS (
        SELECT doc_id, b,
               array_to_string(sigl[b*{_D09_R}+1 : b*{_D09_R}+{_D09_R}], ',') AS bsig
        FROM sig, (SELECT unnest(range({_D09_BANDS})) AS b) bs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM banded a JOIN banded c ON a.b = c.b AND a.bsig = c.bsig
        WHERE a.doc_id < c.doc_id
    ),
    ver AS (
        SELECT id_a, id_b,
               len(list_intersect(x.shl, y.shl)) AS n_i,
               len(x.shl) + len(y.shl) - len(list_intersect(x.shl, y.shl)) AS n_u
        FROM cand
        JOIN sh x ON x.doc_id = cand.id_a
        JOIN sh y ON y.doc_id = cand.id_b
    )
    SELECT id_a, id_b,
           CAST(n_i AS BIGINT) AS n_inter,
           CAST(n_u AS BIGINT) AS n_union,
           {sql_fround("CAST(n_i AS DOUBLE) / n_u", 6)} AS jaccard
    FROM ver
    WHERE CAST(n_i AS DOUBLE) / n_u >= 0.5
    """,
    doc="The d01 MinHash-LSH pipeline on the engine-portable hash "
    "family — the full shingle → 32-perm signature → 8-band bucket → "
    "verified-Jaccard chain hash-checked against DuckDB rebuilding "
    "identical signatures and buckets (operators/dedup."
    "minhash_lsh_pairs_portable). d01's xxhash64 stays the production "
    "default (cheaper per shingle); this twin puts the banding "
    "machinery itself — not just its recall — under the oracle gate.",
)
def d09_portable_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs_portable(
        d,
        "doc_id",
        "text",
        num_hashes=_D09_K,
        bands=_D09_BANDS,
        jaccard_threshold=0.5,
    )
    return pairs.select(
        "id_a",
        "id_b",
        "n_inter",
        "n_union",
        fround(F.col("jaccard"), 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# d14 — the LSH S-curve measured: per true-Jaccard decile, the fraction
# of pairs the d09 banding actually catches, beside the theoretical
# 1-(1-s^r)^b recall — the calibration audit that justifies a banding
# configuration before trusting it on a corpus
# ---------------------------------------------------------------------------

D14_MAX_DF = 50  # rare-anchor cap for pair GENERATION (the t40 move):
# the ground-truth join is bounded by df² per shingle, never corpus²


def _d14_theory(mid: str) -> str:
    # recall at bucket midpoint s = (2·bucket+1)/20 for r=4, b=8, with
    # s^4 as an exact integer ratio and u^8 as an explicit product
    # chain — both engines run the identical IEEE operation sequence
    s4 = f"(CAST({mid}*{mid}*{mid}*{mid} AS DOUBLE) / 160000.0)"
    u = f"(1.0 - {s4})"
    u2 = f"({u} * {u})"
    u4 = f"({u2} * {u2})"
    u8 = f"({u4} * {u4})"
    return f"(1.0 - {u8})"


@query(
    "d14_lsh_scurve",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              for i in range(1, len(tk) - 1)]) AS shl
        FROM (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents)
        WHERE len(tk) >= 3
    ),
    hs AS (
        SELECT doc_id, shl,
               list_transform(shl, s -> {_D09_HASH_S}) AS hl
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               [list_min(list_transform(hl, h -> (h * (2*k + 1) + k) % {_P1}))
                for k in range({_D09_K})] AS sigl
        FROM hs
    ),
    banded AS (
        SELECT doc_id, b,
               array_to_string(sigl[b*{_D09_R}+1 : b*{_D09_R}+{_D09_R}], ',') AS bsig
        FROM sig, (SELECT unnest(range({_D09_BANDS})) AS b) bs
    ),
    px AS (
        SELECT DISTINCT doc_id, h
        FROM (SELECT doc_id, unnest(hl) AS h FROM hs)
    ),
    freq AS (
        SELECT h FROM px GROUP BY h
        HAVING COUNT(*) BETWEEN 2 AND {D14_MAX_DF}
    ),
    pxf AS (SELECT px.doc_id, px.h FROM px JOIN freq USING (h)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pxf a JOIN pxf b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    jac AS (
        SELECT id_a, id_b,
               CAST(len(list_intersect(x.shl, y.shl)) AS DOUBLE)
                 / (len(x.shl) + len(y.shl) - len(list_intersect(x.shl, y.shl))) AS j
        FROM cand
        JOIN sh x ON x.doc_id = cand.id_a
        JOIN sh y ON y.doc_id = cand.id_b
    ),
    caught AS (
        SELECT DISTINCT c.id_a, c.id_b
        FROM cand c
        JOIN banded ba ON ba.doc_id = c.id_a
        JOIN banded bb ON bb.doc_id = c.id_b AND bb.b = ba.b AND bb.bsig = ba.bsig
    ),
    bucketed AS (
        SELECT LEAST(CAST(FLOOR(j * 10) AS INTEGER), 9) AS bucket,
               CASE WHEN ct.id_a IS NULL THEN 0 ELSE 1 END AS hit
        FROM jac LEFT JOIN caught ct
          ON ct.id_a = jac.id_a AND ct.id_b = jac.id_b
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(hit) AS BIGINT) AS n_caught,
           {sql_fround("CAST(SUM(hit) AS DOUBLE) / COUNT(*)", 4)} AS catch_rate,
           {sql_fround(_d14_theory("(2*bucket + 1)"), 4)} AS theory_rate
    FROM bucketed GROUP BY bucket
    """,
    doc=f"The LSH S-curve MEASURED against ground truth: every pair "
    f"sharing a rare shingle (df ≤ {D14_MAX_DF} — the t40 anchor cap, "
    "so the ground-truth join is bounded by df² per shingle, never "
    "corpus²) gets its true Jaccard, bucketed into deciles, and "
    "checked against the d09 banding (did ANY of the 8 band "
    "signatures collide?). Per decile: measured catch rate beside the "
    "theoretical 1-(1-s^4)^8 at the bucket midpoint (exact-integer "
    "midpoint ratio + explicit product chain, so both engines run the "
    "identical IEEE sequence). The calibration audit run before "
    "trusting a banding config on a new corpus: if measured falls "
    "under theory at high Jaccard, shingle skew is breaking the "
    "uniform-hash assumption. Shares the cached portable signature "
    "frame with d09 (operators/dedup.portable_signature_frame).",
)
def d14_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        anchored_candidate_pairs,
        join_pair_sides,
        portable_banded_frame,
        portable_signature_frame,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = portable_signature_frame(d, "doc_id", "text", _D09_K, 3)
    banded = portable_banded_frame(sig, _D09_BANDS, _D09_R)
    cand = anchored_candidate_pairs(
        d, "doc_id", "text", shingle_n=3, max_df=D14_MAX_DF
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    jac = join_pair_sides(cand, sig.select("_id", "_sh")).select(
        "id_a", "id_b", (inter.cast("double") / union).alias("j")
    )
    ba = banded.select(F.col("_id").alias("id_a"), "_band", "_bsig")
    bb = banded.select(F.col("_id").alias("id_b"), "_band", "_bsig")
    caught = (
        cand.join(ba, "id_a")
        .join(bb, ["id_b", "_band", "_bsig"])
        .select("id_a", "id_b")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    bucketed = jac.join(caught, ["id_a", "id_b"], "left").select(
        F.least(F.floor(F.col("j") * 10).cast("int"), F.lit(9)).alias("bucket"),
        F.coalesce(F.col("_hit"), F.lit(0)).alias("hit"),
    )
    mid = (F.col("bucket") * 2 + 1).cast("bigint")
    s4 = (mid * mid * mid * mid).cast("double") / F.lit(160000.0)
    u = F.lit(1.0) - s4
    u2 = u * u
    u4 = u2 * u2
    u8 = u4 * u4
    theory = F.lit(1.0) - u8
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("hit").cast("bigint").alias("n_caught"),
        fround(F.sum("hit").cast("double") / F.count(F.lit(1)), 4).alias("catch_rate"),
        fround(F.max(theory), 4).alias("theory_rate"),
    )


# ---------------------------------------------------------------------------
# d15 — the MinHash ESTIMATOR calibrated: signature-agreement fraction
# vs true Jaccard per decile (d14 audits the banding's RECALL; this
# audits the signatures' ACCURACY — the two failure modes of an LSH
# deployment are distinct and need separate measurements)
# ---------------------------------------------------------------------------


def _sql_qmean(expr: str) -> str:
    """Order-independent mean: per-row 1e-6 quantization, integer sum."""
    return sql_fround(
        f"CAST(SUM(CAST(FLOOR(({expr}) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)"
        " / 1000000.0 / COUNT(*)",
        6,
    )


@query(
    "d15_minhash_estimator_calibration",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              for i in range(1, len(tk) - 1)]) AS shl
        FROM (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents)
        WHERE len(tk) >= 3
    ),
    hs AS (
        SELECT doc_id, shl,
               list_transform(shl, s -> {_D09_HASH_S}) AS hl
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               [list_min(list_transform(hl, h -> (h * (2*k + 1) + k) % {_P1}))
                for k in range({_D09_K})] AS sigl
        FROM hs
    ),
    px AS (
        SELECT DISTINCT doc_id, h
        FROM (SELECT doc_id, unnest(hl) AS h FROM hs)
    ),
    freq AS (
        SELECT h FROM px GROUP BY h
        HAVING COUNT(*) BETWEEN 2 AND {D14_MAX_DF}
    ),
    pxf AS (SELECT px.doc_id, px.h FROM px JOIN freq USING (h)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pxf a JOIN pxf b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT cand.id_a, cand.id_b,
               CAST(len(list_intersect(x.shl, y.shl)) AS DOUBLE)
                 / (len(x.shl) + len(y.shl) - len(list_intersect(x.shl, y.shl))) AS j,
               CAST(len(list_filter(generate_series(1, {_D09_K}),
                        i -> sa.sigl[i] = sb.sigl[i])) AS DOUBLE) / {_D09_K} AS est
        FROM cand
        JOIN sh x ON x.doc_id = cand.id_a
        JOIN sh y ON y.doc_id = cand.id_b
        JOIN sig sa ON sa.doc_id = cand.id_a
        JOIN sig sb ON sb.doc_id = cand.id_b
    )
    SELECT LEAST(CAST(FLOOR(j * 10) AS INTEGER), 9) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {_sql_qmean("j")} AS mean_true_j,
           {_sql_qmean("est")} AS mean_est_j,
           {_sql_qmean("ABS(est - j)")} AS mean_abs_err
    FROM scored GROUP BY 1
    """,
    doc=f"The MinHash ESTIMATOR calibrated against ground truth: over "
    "the same rare-anchored pair set as d14, each pair's estimated "
    f"Jaccard (fraction of its {_D09_K} signature positions that "
    "agree — the unbiased MinHash estimate, and a division by a power "
    "of two so the double is exact) beside its true Jaccard, rolled "
    "up per true-Jaccard decile as n_pairs / mean true / mean "
    "estimate / mean |error| (all 1e-6-quantized before summing, so "
    "the means are order-independent). d14 asks 'does banding FIND "
    "the pair'; this asks 'does the signature MEASURE it' — expected "
    "|error| is ~sqrt(j(1-j)/K), and a corpus where the measured "
    "error exceeds that envelope has hash-collision or shingle-skew "
    "trouble. Shares the cached portable signature frame with "
    "d09/d14; the scoring join touches only anchored candidates.",
)
def d15_minhash_estimator_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        anchored_candidate_pairs,
        join_pair_sides,
        portable_signature_frame,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = portable_signature_frame(d, "doc_id", "text", _D09_K, 3)
    cand = anchored_candidate_pairs(
        d, "doc_id", "text", shingle_n=3, max_df=D14_MAX_DF
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    agree = F.size(F.filter(F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda b: b))
    scored = join_pair_sides(cand, sig.select("_id", "_sh", "_sig")).select(
        (inter.cast("double") / union).alias("j"),
        (agree.cast("double") / _D09_K).alias("est"),
    )

    def qmean(col):
        return fround(
            F.sum(F.floor(col * 1000000.0 + F.lit(0.5)).cast("bigint")).cast("double")
            / 1000000.0
            / F.count(F.lit(1)),
            6,
        )

    return (
        scored.withColumn(
            "bucket", F.least(F.floor(F.col("j") * 10).cast("int"), F.lit(9))
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            qmean(F.col("j")).alias("mean_true_j"),
            qmean(F.col("est")).alias("mean_est_j"),
            qmean(F.abs(F.col("est") - F.col("j"))).alias("mean_abs_err"),
        )
    )


@query(
    "d03_minhash_dedupe",
    oracle=None,
    doc="Greedy LSH dedup without pair enumeration (the pair list is "
    "O(n²) on this near-dup-dense corpus; the keep/drop decision is "
    "linear-ish). Returns per-lang survivor counts.",
)
def d03_minhash_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    kept = minhash_dedupe(d, "doc_id", "text")
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


@query(
    "d05_cc_dedupe",
    oracle=None,  # iterative label propagation — not SQL-expressible;
    # tests/test_operators.py verifies against a union-find ground truth
    doc="Transitive (connected-components) dedup: LSH pairs → min-label "
    "propagation to a fixed point → one keeper per duplicate chain. "
    "Returns per-lang survivor counts (compare d03: greedy keeps chain "
    "fragments; CC collapses them).",
)
def d05_cc_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_dedupe_cc

    d = load_table(spark, sf_dir, "documents")
    kept = minhash_dedupe_cc(d, "doc_id", "text")
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


@query(
    "d02_simhash_pairs",
    oracle=None,
    doc="SimHash near-duplicate pairs (Hamming ≤ 3, 16-bit chunk blocking).",
)
def d02_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=3)


@query(
    "s04_lsh_cosine_topk",
    oracle=None,  # approximate by construction; recall vs s02 asserted in tests
    doc="LSH-bucketed approximate cosine top-k (random hyperplanes, "
    "12 tables × 3 planes — sized for this corpus's near-random "
    "embeddings) — the scale path for s02.",
)
def s04_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return lsh_cosine_topk(e, q, k=5, dim=64, n_tables=12, n_planes=3)


@query(
    "s05_ivf_cosine_topk",
    oracle=None,  # approximate by construction; recall vs s02 asserted in tests
    doc="IVF approximate cosine top-k: KMeans cells + nprobe-nearest-"
    "cell probing, exact re-rank inside probed cells — the partition-"
    "pruning ANN scale path (operators/similarity.ivf_cosine_topk). "
    "The index is built once per session (cached_ivf_index) — the in-memory "
    "analog of write_ivf_index's partitioned-by-cell table; probes "
    "never pay the assignment pass again.",
)
def s05_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return ivf_cosine_topk(e, q, k=5, nlist=16, nprobe=6)


# (applicationId, sf_dir) -> trained PQ codebooks. Bounded driver state
# (M x K x d_sub floats = one codebook set); the 100 TB analog is a
# codebook sidecar file written next to the encoded table.
_PQ_CODEBOOKS: dict[tuple, list] = {}


@query(
    "s10_pq_topk",
    oracle=None,  # k-means codebooks are data-dependent (not SQL);
    # recall vs the exact s02 baseline + encode determinism asserted in
    # tests/test_operators.py
    doc="Product-quantization ANN (Jégou et al. 2011): unit vectors "
    "split into 8 subspaces, each k-means'd to a 16-code codebook "
    "(one Lloyd job per iteration over ALL subspaces at once); "
    "vectors stored as 8 small codes (32× smaller than float32), "
    "scored by asymmetric distance — the probe's M×K lookup table is "
    "built as a plan expression and candidates are ranked by M table "
    "lookups touching ONLY the codes column; top-100 re-ranked "
    "exactly. The compression half of IVF-PQ, the standard "
    "billion-scale ANN layout (operators/similarity.pq_train/"
    "pq_encode/pq_topk). Recall@10=0.78 here against s02 on this "
    "worst-case corpus (random gaussians have no subspace structure); "
    "structured embeddings quantize far tighter.",
)
def s10_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk, pq_train

    e = load_table(spark, sf_dir, "embeddings")
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_CODEBOOKS:
        _PQ_CODEBOOKS[key] = pq_train(e, dim=64, m_subs=8, k_codes=16, seed=42)
    q = e.filter(F.col("vec_id") < 5)
    return pq_topk(e, q, _PQ_CODEBOOKS[key], k=10, rerank=100).select(
        "q_id", "vec_id", fround(F.col("cos_sim"), 6).alias("cos_sim"), "rn"
    )


@query(
    "s11_ivfpq_topk",
    oracle=None,  # approximate by construction (k-means cells + PQ
    # codebooks are data-dependent); recall vs the exact s02 baseline
    # asserted in tests/test_operators.py
    doc="IVF-PQ ANN (Jégou et al. 2011 IVFADC): the s05 cell index and "
    "the s10 codebooks COMPOSED — a query equi-joins only its "
    "nprobe/16 nearest cells of the (cell, codes) scan table, ranks "
    "those codes by M LUT lookups, and exact-re-ranks the top-100. "
    "The billion-scale layout: IVF bounds rows touched, PQ bounds "
    "bytes per row (32x), re-rank restores exactness at the top "
    "(operators/similarity.ivfpq_topk). Shares s05's session-cached "
    "IVF index and s10's trained codebooks, so the bench pays each "
    "build once. Recall@10 ~ 0.7 here on worst-case random gaussians "
    "(the PQ ceiling is 0.78, s10); structured embeddings do better.",
)
def s11_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivfpq_topk, pq_train

    e = load_table(spark, sf_dir, "embeddings")
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_CODEBOOKS:
        _PQ_CODEBOOKS[key] = pq_train(e, dim=64, m_subs=8, k_codes=16, seed=42)
    q = e.filter(F.col("vec_id") < 5)
    return ivfpq_topk(
        e, q, _PQ_CODEBOOKS[key], k=10, nlist=16, nprobe=8, rerank=100
    ).select("q_id", "vec_id", fround(F.col("cos_sim"), 6).alias("cos_sim"), "rn")


@query(
    "m01_multimodal_decode",
    oracle=None,  # synthetic binary assets, not a driver table
    doc="Multimodal decode over GENUINE container bytes: images are "
    "valid PNGs and baseline JPEGs (operators/jpeg.py encoder), audio "
    "valid PCM WAVs, video valid MJPEG AVIs (operators/avi.py) — "
    "decoded for real by stdlib parsers inside Arrow mapInPandas "
    "batches (PNG IHDR / JPEG SOF / RIFF-WAVE / RIFF-AVI chunk walk — "
    "operators/multimodal.py). Rollup by modality × decoded format.",
)
def m01_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import make_real_assets

    assets = make_real_assets(spark, 120)
    decoded = decode_asset(assets, fake=True)
    return decoded.groupBy("modality", "format").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("checksum").alias("distinct_checksums"),
        F.max("width").alias("max_width"),
        F.max("sample_rate").alias("max_sample_rate"),
    )


@query(
    "m02_audio_signal_stats",
    oracle=None,  # synthetic binary assets, not a driver table
    doc="REAL PCM signal analysis over WAV bytes (stdlib wave + numpy "
    "in Arrow batches): per-sample-rate rollup of RMS level, zero-"
    "crossing rate, and peak amplitude — the silence/clipping hygiene "
    "screen of an audio curation pipeline "
    "(operators/multimodal.extract_audio_features).",
)
def m02_audio_signal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_audio_features, make_real_assets

    assets = make_real_assets(spark, 120).filter(F.col("modality") == "audio")
    feats = extract_audio_features(assets)
    return feats.groupBy("sample_rate").agg(
        F.count("*").alias("n_assets"),
        F.round(F.avg("rms"), 4).alias("avg_rms"),
        F.round(F.avg(F.col("zero_crossings").cast("double") / F.col("n_samples")), 4).alias(
            "avg_zcr"
        ),
        F.round(F.max("peak"), 4).alias("max_peak"),
    )


@query(
    "m03_image_resize_pipeline",
    oracle=None,  # synthetic binary assets, not a driver table
    doc="REAL pixel pipeline over PNG and JPEG bytes: PNG via stdlib "
    "decode (zlib inflate + all five scanline filters), JPEG via the "
    "baseline codec (operators/jpeg.py: Huffman entropy decode, IDCT, "
    "chroma upsampling; Annex-K re-encode) — numpy nearest-neighbor "
    "resample to max side 64 inside Arrow mapInPandas batches. Output "
    "verifies by re-decoding the resized bytes: every rewritten image "
    "fits the bound (operators/multimodal.resize_image).",
)
def m03_image_resize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_asset, make_real_assets, resize_image

    assets = make_real_assets(spark, 120).filter(F.col("modality") == "image")
    resized = resize_image(assets, max_side=64)
    # resize emits (asset_id, width, height, content); restore the asset
    # shape so the decoder re-reads dimensions from the actual bytes
    redecoded = decode_asset(
        resized.select("asset_id", F.lit("image").alias("modality"), "content"),
        fake=True,
    )
    return redecoded.groupBy("format").agg(
        F.count("*").alias("n_images"),
        F.max("width").alias("max_width_after"),
        F.max("height").alias("max_height_after"),
        F.sum("n_bytes").alias("total_bytes_after"),
    )


@query(
    "m04_video_frame_sample",
    oracle="""
    WITH vids AS (
        SELECT i AS asset_id, (2 + (i // 3) % 5) * 250 AS duration_ms
        FROM (SELECT unnest(generate_series(0, 119)) AS i) t
        WHERE i % 3 = 2
    ),
    fr AS (
        SELECT asset_id, unnest(generate_series(0, duration_ms, 250)) AS frame_ms
        FROM vids
    )
    SELECT asset_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(MAX(frame_ms) AS BIGINT) AS last_frame_ms
    FROM fr GROUP BY asset_id
    """,
    doc="Video frame-sampling PLAN over the synthetic asset table: one "
    "row per (asset, 250 ms offset) from explode(sequence(0, "
    "duration_ms, 250)) — the sampling grid a video curation pipeline "
    "fans out to its decoder, produced from metadata alone (no codec "
    "touch; m05 is the execution half that decodes the sampled frames' "
    "pixels for real). The asset corpus is deterministic (modality = "
    "id % 3, video = MJPEG AVI with 2 + (id//3) % 5 frames at 4 fps — "
    "operators/multimodal.make_real_assets), so the whole sampling "
    "plan is hash-checked: the oracle regenerates the identical grid "
    "from the same arithmetic. At scale this explode is the fan-out "
    "stage ahead of a mapInPandas decode, partitioned by asset — rows "
    "grow with total video duration, never quadratic.",
)
def m04_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import make_real_assets, sample_video_frames

    assets = make_real_assets(spark, 120)
    frames = sample_video_frames(assets, every_ms=250)
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ms").cast("bigint").alias("last_frame_ms"),
    )


@query(
    "m05_video_frame_luma",
    oracle=None,  # REAL MJPEG pixel decode — SQL engines cannot replay a
    # Huffman/IDCT codec; pixel parity vs a direct numpy decode of the
    # same AVI bytes is pinned in tests/test_operators.py
    doc="REAL video pixel decode (the execution half of m04's sampling "
    "plan): MJPEG-in-AVI container parse + per-frame baseline-JPEG "
    "decode (operators/avi.py over operators/jpeg.py) inside Arrow "
    "mapInPandas batches, emitting per-frame mean luma (BT.601) — the "
    "black-frame / shot-change signal a video curation pipeline "
    "filters on — rolled up per asset. Non-MJPEG streams raise, never "
    "pass through. Scale shape: a narrow shuffle-free map over "
    "asset-partitioned bytes; frame fan-out is bounded by total video "
    "duration (operators/multimodal.extract_video_frames).",
)
def m05_video_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_video_frames, make_real_assets

    assets = make_real_assets(spark, 120)
    frames = extract_video_frames(assets, every_ms=250)
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_decoded"),
        F.max("width").alias("width"),
        F.max("height").alias("height"),
        F.round(F.avg("mean_luma"), 2).alias("avg_luma"),
        F.round(F.max("mean_luma") - F.min("mean_luma"), 2).alias("luma_range"),
    )


@query(
    "m06_audio_spectral",
    oracle=None,  # STFT/FFT is not SQL-expressible; the physics check
    # (each synthetic tone's known frequency recovered within one FFT
    # bin) is pinned in tests/test_operators.py
    doc="REAL frequency-domain audio analysis: Hann-windowed STFT "
    "(numpy rfft over Arrow mapInPandas batches) of every WAV asset — "
    "dominant frequency from the mean magnitude spectrum, mean "
    "spectral centroid, and bandwidth — the tone/noise screen an "
    "audio curation pipeline runs beside m02's time-domain RMS/ZCR "
    "stats (operators/multimodal.extract_audio_spectral). The test "
    "corpus is pure sine tones at known frequencies, and the unit "
    "test asserts each is recovered within one FFT bin. Scale shape: "
    "a shuffle-free narrow map over asset-partitioned bytes; output "
    "is one row per asset.",
)
def m06_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_audio_spectral, make_real_assets

    assets = make_real_assets(spark, 120)
    return extract_audio_spectral(assets)


@query(
    "a02_asof_forward_tolerance",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
    nxt AS (
        SELECT c.event_id, MIN(e.ts) AS error_ts
        FROM c JOIN e ON c.user_id = e.user_id
                     AND e.ts >= c.ts
                     AND e.ts <= c.ts + INTERVAL 1 HOUR
        GROUP BY c.event_id
    )
    SELECT c.event_id, c.user_id, nxt.error_ts,
           CAST(epoch_ms(nxt.error_ts) - epoch_ms(c.ts) AS BIGINT) AS ms_to_error
    FROM c JOIN nxt ON c.event_id = nxt.event_id
    """,
    doc="Forward as-of join with a tolerance bound: each click matched "
    "to the user's NEXT error event within one hour (clicks with no "
    "error in the window drop out). Same union+window operator as a01 "
    "run in the forward direction (operators/asof.py) — one shuffle on "
    "user_id, tolerance applied as a post-filter; the oracle computes "
    "the same nearest-successor with a bounded correlated MIN.",
)
def a02_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    joined = asof_join(
        clicks,
        errors,
        on="user_id",
        left_time="ts",
        right_time="ts",
        payload_cols=[],
        how="inner",
        direction="forward",
        tolerance_seconds=3600.0,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("_asof_time").alias("error_ts"),
        (
            F.unix_millis(F.col("_asof_time").cast("timestamp"))
            - F.unix_millis(F.col("ts").cast("timestamp"))
        ).alias("ms_to_error"),
    )


@query(
    "a03_point_in_time_join",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_type, ts AS valid_from, event_id
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    intervals AS (
        SELECT user_id, event_type AS state, valid_from,
               LEAD(valid_from) OVER w2 AS valid_to,
               CAST(ROW_NUMBER() OVER w2 AS INTEGER) AS version
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    )
    SELECT p.event_id, p.user_id, i.state, i.version
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN intervals i
      ON p.user_id = i.user_id
     AND i.valid_from <= p.ts
     AND (i.valid_to IS NULL OR p.ts < i.valid_to)
    """,
    doc="Point-in-time (SCD2) join: each purchase event attached to the "
    "user-state interval valid AT ITS TIMESTAMP — the as-of lookup "
    "every warehouse needs against a versioned dimension. The interval "
    "table is e11's SCD2 build reused verbatim; the join is an equi-"
    "join on the entity key with the [valid_from, valid_to) containment "
    "as a post-filter, so per-task work is bounded by one entity's "
    "version count (zero-length intervals from same-timestamp state "
    "flips match nothing on either engine, keeping the result exactly "
    "one state per fact).",
)
def a03_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.extended import e11_user_state_intervals

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    iv = e11_user_state_intervals(spark, sf_dir).select(
        F.col("user_id").alias("i_user"),
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
        "version",
    )
    return (
        purchases.join(iv, purchases["user_id"] == iv["i_user"])
        .filter(
            (F.col("valid_from") <= F.col("ts"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
        )
        .select("event_id", "user_id", "state", "version")
    )


# ---------------------------------------------------------------------------
# d10 — portable-hash SimHash pairs (d02's machinery under the oracle)
# ---------------------------------------------------------------------------

D10_BITS = 48
D10_CHUNK_W = 12  # 4 chunks; pigeonhole covers Hamming <= 3, we use <= 1
D10_MAX_HAM = 1
_D10_NCH = D10_BITS // D10_CHUNK_W
_D10_MASK = (1 << D10_CHUNK_W) - 1
_D10_BIT_HASH = sql_portable_hash("('b' || CAST(b.i AS VARCHAR) || ':' || tok)")


@query(
    "d10_portable_simhash_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(string_split(text, ' '),
                                                x -> x <> ''))) AS tok
        FROM documents
    ),
    bits AS (
        SELECT doc_id, b.i AS b,
               SUM(CASE WHEN {_D10_BIT_HASH} % 2 = 1 THEN 1 ELSE -1 END) AS s
        FROM toks CROSS JOIN (SELECT unnest(range({D10_BITS})) AS i) b
        GROUP BY doc_id, b.i
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS sg
        FROM bits GROUP BY doc_id
    ),
    chunks AS (
        SELECT doc_id, c.i AS c, (sg >> ({D10_CHUNK_W} * c.i)) & {_D10_MASK} AS v, sg
        FROM sig CROSS JOIN (SELECT unnest(range({_D10_NCH})) AS i) c
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sg AS sa, b.sg AS sb
        FROM chunks a JOIN chunks b
          ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {D10_MAX_HAM}
    """,
    doc=f"SimHash near-dup pairs on the portable hash family — d02's "
    f"whole pipeline (per-bit ±1 votes over distinct tokens → "
    f"{D10_BITS}-bit signature → {D10_CHUNK_W}-bit chunk pigeonhole "
    f"blocking → verified Hamming <= {D10_MAX_HAM}) replayed bit-for-"
    "bit by DuckDB, closing the last dedup family without a hash-"
    "checked twin (d01→d09, d05→g03, d06→d08, x04→x05 precedents). "
    "Chunk blocking keeps the candidate join equi (never all-pairs); "
    "the production d02 keeps 64-bit xxhash64 signatures.",
)
def d10_portable_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_frame

    d = load_table(spark, sf_dir, "documents")
    return _d10_pairs_from_tokens(token_frame(d, "doc_id", "text"))


def _d10_pairs_from_tokens(tok: DataFrame) -> DataFrame:
    """d10's pair stage over a pre-tokenized (_id, _tk) frame — split
    out so the shared ``token_frame`` (one tokenize of the corpus,
    cached per sf_dir) feeds minhash, simhash AND winnowing in the d21
    consensus instead of each family re-splitting the text."""
    from ..operators.similarity import _bind
    from ..operators.sketch import portable_hash

    # one row per doc: the 48 per-bit vote sums are built as an ARRAY by
    # native HOFs (per token: 48 parities, folded with element-wise add)
    # instead of exploding tokens x bits into 48x the rows — same math
    # as the oracle, ~5x less row volume
    toks = F.array_distinct(F.col("_tk"))
    zeros = F.transform(
        F.sequence(F.lit(0), F.lit(D10_BITS - 1)), lambda b: F.lit(0).cast("bigint")
    )

    def tok_votes(tok):
        return F.transform(
            F.sequence(F.lit(0), F.lit(D10_BITS - 1)),
            lambda b: F.when(
                portable_hash(
                    F.concat(F.lit("b"), b.cast("string"), F.lit(":"), tok), 31, _P1
                )
                % 2
                == 1,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("bigint"),
        )

    votes = F.aggregate(
        toks, zeros, lambda acc, tok: F.zip_with(acc, tok_votes(tok), lambda a, v: a + v)
    )

    def sig_of(v):
        # bit b set iff vote sum > 0; 2^b is exact in double for b < 53
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(D10_BITS - 1)),
                lambda b: F.when(
                    F.element_at(v, b + 1) > 0,
                    F.pow(F.lit(2.0), b.cast("double")).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    # persist (lazy) — the chunk fanout below reuses sg; materialized
    # once at the consumer's first action, no eager action in a builder
    sig = tok.select(
        F.col("_id").alias("doc_id"), _bind(votes, sig_of).alias("sg")
    ).persist()
    chunks = sig.select(
        "doc_id",
        "sg",
        F.explode(F.sequence(F.lit(0), F.lit(_D10_NCH - 1))).alias("c"),
    ).withColumn("v", F.expr(f"shiftright(sg, {D10_CHUNK_W} * c) & {_D10_MASK}"))
    a = chunks.select(
        F.col("doc_id").alias("id_a"), F.col("sg").alias("sa"), "c", "v"
    )
    bb = chunks.select(
        F.col("doc_id").alias("id_b"), F.col("sg").alias("sb"),
        F.col("c").alias("_c2"), F.col("v").alias("_v2"),
    )
    cand = (
        a.join(
            bb,
            (a["c"] == bb["_c2"]) & (a["v"] == bb["_v2"]) & (a["id_a"] < bb["id_b"]),
        )
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.filter(ham <= D10_MAX_HAM).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# d11 — blocked edit-distance join (record linkage / entity resolution)
# ---------------------------------------------------------------------------

D11_MAX_LEV = 1


@query(
    "d11_fuzzy_name_pairs",
    oracle=f"""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS lev
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {D11_MAX_LEV}
    """,
    doc="Record-linkage (entity-resolution) candidate pairs: customers "
    "whose names are within Levenshtein distance "
    f"{D11_MAX_LEV} INSIDE a (nation, segment) block — the classic "
    "blocking-then-comparing shape (Fellegi-Sunter style pipelines): "
    "the block equi-join cuts the comparison space from all-pairs "
    "O(n²) to Sum(|block|²) (112M -> ~9k candidate pairs at sf0.01), "
    "and only candidates pay the edit-distance. levenshtein is native "
    "in both engines (identical integer metric), so the whole fuzzy "
    "join is hash-checked. At 100 TB blocks come from a cheap "
    "deterministic key (phonetic code, name prefix, geo cell) and the "
    "same plan holds; skewed mega-blocks get salted or length-"
    "sub-blocked, the PPJoin/t09 discipline applied to strings.",
)
def d11_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("_na"),
        "c_nationkey",
        "c_mktsegment",
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("_nb"),
        F.col("c_nationkey").alias("_nk2"),
        F.col("c_mktsegment").alias("_ms2"),
    )
    lev = F.levenshtein(F.col("_na"), F.col("_nb"))
    return (
        a.join(
            b,
            (a["c_nationkey"] == b["_nk2"])
            & (a["c_mktsegment"] == b["_ms2"])
            & (a["id_a"] < b["id_b"]),
        )
        .filter(lev <= D11_MAX_LEV)
        .select("id_a", "id_b", lev.cast("int").alias("lev"))
    )


@query(
    "d13_golden_record",
    oracle=f"""
    WITH pairs AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= {D11_MAX_LEV}
    ),
    e2 AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    l1 AS (
        SELECT src AS node, LEAST(src, MIN(dst)) AS l1
        FROM e2 GROUP BY src
    ),
    l2 AS (
        SELECT a.node, LEAST(a.l1, MIN(nb.l1)) AS label
        FROM l1 a
        JOIN e2 e ON e.src = a.node
        JOIN l1 nb ON nb.node = e.dst
        GROUP BY a.node, a.l1
    )
    SELECT CAST(label AS BIGINT) AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(c.c_name) AS canonical_name,
           MAX(c.c_acctbal) AS max_acctbal,
           {sql_money_sum("CAST(c.c_acctbal AS DECIMAL(12,2))")} AS total_acctbal
    FROM l2 JOIN customer c ON c.c_custkey = l2.node
    GROUP BY label
    HAVING COUNT(*) >= 2
    """,
    doc="End-to-end entity resolution to a GOLDEN RECORD: d11's blocked "
    "fuzzy pairs become an undirected match graph, two statically-"
    "unrolled rounds of min-label propagation (the g03 trick — each "
    "round one edge join + one min-aggregate, so the whole pipeline "
    "stays hash-checkable) assign entity labels, and each multi-member "
    "entity collapses to one canonical row (min name, max balance, "
    "DECIMAL-exact balance total) — the master-data-management merge "
    "every CRM dedup ships. The iterative fixed-point CC "
    "(operators/dedup.connected_components) remains the deep-chain "
    "production path; two rounds close the 2-3-member clusters "
    "blocking actually yields here. All joins are key equi-joins; "
    "label mins over bigints agree bytewise across engines.",
)
def d13_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("id_a"), F.col("c_name").alias("_na"),
        "c_nationkey", "c_mktsegment",
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"), F.col("c_name").alias("_nb"),
        F.col("c_nationkey").alias("_nk2"), F.col("c_mktsegment").alias("_ms2"),
    )
    pairs = (
        a.join(
            b,
            (a["c_nationkey"] == b["_nk2"])
            & (a["c_mktsegment"] == b["_ms2"])
            & (a["id_a"] < b["id_b"]),
        )
        .filter(F.levenshtein(F.col("_na"), F.col("_nb")) <= D11_MAX_LEV)
        .select("id_a", "id_b")
    )
    e2 = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    l1 = e2.groupBy(F.col("src").alias("node")).agg(
        F.least(F.col("src"), F.min("dst")).alias("l1")
    )
    l2 = (
        l1.join(e2, l1["node"] == e2["src"])
        .join(
            l1.select(F.col("node").alias("_nb_n"), F.col("l1").alias("_nb_l1")),
            F.col("dst") == F.col("_nb_n"),
        )
        .groupBy("node", l1["l1"])
        .agg(F.least(l1["l1"], F.min("_nb_l1")).alias("label"))
        .select("node", "label")
    )
    return (
        l2.join(c, l2["node"] == c["c_custkey"])
        .groupBy(F.col("label").cast("bigint").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("c_name").alias("canonical_name"),
            F.max("c_acctbal").alias("max_acctbal"),
            F.round(F.sum(dmoney("c_acctbal")), 2).cast("double").alias(
                "total_acctbal"
            ),
        )
        .filter(F.col("n_members") >= 2)
    )


@query(
    "m07_image_ahash",
    oracle="""
    WITH imgs AS (
        SELECT i AS asset_id,
               4 + i % 13 AS w, 3 + i % 9 AS h, 42 + i AS seed
        FROM (SELECT unnest(generate_series(0, 119)) AS i) t
        WHERE i % 3 = 0 AND (i // 3) % 2 = 0
    ),
    lum AS (
        SELECT asset_id, w, h, c.cell,
               299 * (((((c.cell % 8) * w) // 8) * 7
                       + (((c.cell // 8) * h) // 8) * 13 + seed) % 256)
             + 587 * (((((c.cell % 8) * w) // 8) * 31 + seed) % 256)
             + 114 * (((((c.cell // 8) * h) // 8) * 17) % 256) AS luma
        FROM imgs, (SELECT unnest(generate_series(0, 63)) AS cell) c
    ),
    tot AS (SELECT asset_id, SUM(luma) AS s FROM lum GROUP BY asset_id),
    bits AS (
        SELECT l.asset_id, l.w, l.h, l.cell,
               CASE WHEN l.luma * 64 > t.s THEN 1 ELSE 0 END AS bit
        FROM lum l JOIN tot t ON l.asset_id = t.asset_id
    )
    SELECT asset_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           string_agg(CAST(bit AS VARCHAR), '' ORDER BY cell) AS ahash_bits,
           CAST(SUM(bit) AS BIGINT) AS n_set_bits
    FROM bits GROUP BY asset_id, w, h
    """,
    doc="Perceptual average-hash fingerprints from REAL image decode: "
    "every PNG asset's bytes go through the stdlib zlib-inflate + "
    "filter-reconstruction decoder (operators/multimodal.png_decode) "
    "inside Arrow mapInPandas, then an integer-exact 8×8 luma grid "
    "(operators/multimodal.ahash_from_pixels) — the fingerprint that "
    "catches re-encoded/renamed duplicate images byte-hash dedup "
    "misses. Fully HASH-CHECKED despite the codec in the loop: the "
    "asset corpus is deterministic (PNG pixels are R=(7x+13y+seed), "
    "G=(31x+seed), B=17y mod 256 — make_real_assets), so the oracle "
    "regenerates the identical pixels ARITHMETICALLY and must land on "
    "the same 64 bits — decode errors of even one pixel channel flip "
    "the hash. JPEG assets are excluded (lossy decode is codec-exact "
    "but not generator-reproducible; m03 pins their decode parity). "
    "Scale: shuffle-free narrow map, one 64-bit row per image; "
    "near-dup pairing on the fingerprints is m08 (SimHash-style band "
    "blocking, d02/d10 machinery), never pixels.",
)
def m07_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_ahash, make_real_assets

    assets = make_real_assets(spark, 120)
    return image_ahash(assets)


# ---------------------------------------------------------------------------
# m08 — image near-duplicate pairs on the m07 perceptual fingerprints
# ---------------------------------------------------------------------------

M08_BANDS = 4  # 4 × 16-bit bands over the 64-bit ahash

# Shared corpus parameters of the fingerprint-banding pair queries
# (m08 ahash, m13 phash): the generated-asset count and the upscale
# factor. The scratch-tier cache keys derive from THESE constants —
# the same values the build passes to make_real_assets/upscale_assets —
# so changing the corpus invalidates the key automatically (ADVICE
# r12: hard-coded key literals could silently serve a stale frame if
# the build args moved without the key).
MM_PAIR_N_ASSETS = 120
MM_PAIR_UPSCALE = 2
MM_PAIR_ID_OFFSET = 1000
M08_MAX_HAM = 3  # pigeonhole: Hamming <= 3 guarantees >= 1 equal band


def _real_asset_pairs(n_assets: int, factor: int, id_offset: int) -> DataFrame:
    """The generated assets plus their upscaled copies. Built from
    params (local rows never plan the same way twice, so they cannot
    be a tier input)."""
    from ..operators.multimodal import make_real_assets, upscale_assets

    assets = make_real_assets(SparkSession.active(), n_assets).select(
        "asset_id", "modality", "content", "meta"
    )
    return assets.unionByName(upscale_assets(assets, factor=factor, id_offset=id_offset))


def _m08_fingerprints(**params) -> DataFrame:
    from ..operators.multimodal import image_ahash

    return image_ahash(_real_asset_pairs(**params)).select(
        "asset_id",
        F.conv(F.substring("ahash_bits", 1, 32), 2, 10).cast("bigint").alias("hi"),
        F.conv(F.substring("ahash_bits", 33, 32), 2, 10).cast("bigint").alias("lo"),
    )


@query(
    "m08_image_neardup_pairs",
    oracle=f"""
    WITH imgs AS (
        SELECT i AS asset_id,
               4 + i % 13 AS w, 3 + i % 9 AS h, 42 + i AS seed
        FROM (SELECT unnest(generate_series(0, 119)) AS i) t
        WHERE i % 3 = 0 AND (i // 3) % 2 = 0
    ),
    lum AS (
        SELECT asset_id, c.cell,
               299 * (((((c.cell % 8) * w) // 8) * 7
                       + (((c.cell // 8) * h) // 8) * 13 + seed) % 256)
             + 587 * (((((c.cell % 8) * w) // 8) * 31 + seed) % 256)
             + 114 * (((((c.cell // 8) * h) // 8) * 17) % 256) AS luma
        FROM imgs, (SELECT unnest(generate_series(0, 63)) AS cell) c
    ),
    tot AS (SELECT asset_id, SUM(luma) AS s FROM lum GROUP BY asset_id),
    bits AS (
        SELECT l.asset_id, l.cell,
               CASE WHEN l.luma * 64 > t.s THEN 1 ELSE 0 END AS bit
        FROM lum l JOIN tot t ON l.asset_id = t.asset_id
    ),
    fp0 AS (
        SELECT asset_id,
               CAST(SUM(CASE WHEN cell < 32
                             THEN bit * (CAST(1 AS BIGINT) << (31 - cell))
                             ELSE 0 END) AS BIGINT) AS hi,
               CAST(SUM(CASE WHEN cell >= 32
                             THEN bit * (CAST(1 AS BIGINT) << (63 - cell))
                             ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY asset_id
    ),
    fp AS (
        SELECT asset_id, hi, lo FROM fp0
        UNION ALL
        SELECT asset_id + 1000, hi, lo FROM fp0
    ),
    bands AS (
        SELECT asset_id, hi, lo, c.c AS c,
               CASE WHEN c.c < 2 THEN (hi >> (16 * (1 - c.c))) & 65535
                    ELSE (lo >> (16 * (3 - c.c))) & 65535 END AS v
        FROM fp CROSS JOIN (SELECT unnest(range({M08_BANDS})) AS c) c
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b,
               a.hi AS ha, a.lo AS la, b.hi AS hb, b.lo AS lb
        FROM bands a JOIN bands b
          ON a.c = b.c AND a.v = b.v AND a.asset_id < b.asset_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INTEGER)
               AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= {M08_MAX_HAM}
    """,
    doc="Image near-duplicate pairs on m07's perceptual fingerprints — "
    "the shipped consumer of the ahash (closing round-6's promissory "
    "note). The corpus is the 20 m07 PNGs PLUS a ×2 nearest-neighbor "
    "upscaled re-encode of each (operators/multimodal.upscale_assets, "
    "a distributed decode→resample→encode mapInPandas): different "
    "bytes, different byte-hash, IDENTICAL ahash, because an exact "
    "integer-factor upscale samples the same source pixel at every "
    "grid cell (nested-floor identity floor(floor(cx·2w/8)/2) = "
    "floor(cx·w/8)). Pairing is d10's pigeonhole banding on the 64-bit "
    f"fingerprint — {M08_BANDS}×16-bit bands, equi-join on (band, "
    f"value), exact Hamming verify <= {M08_MAX_HAM} — never an "
    "all-pairs compare. HASH-CHECKED end-to-end: the oracle "
    "regenerates base pixels arithmetically (m07's formula), derives "
    "the variant fingerprints from the SAME bits the floor identity "
    "guarantees, and replays the banding in SQL; any corruption in "
    "Spark's real PNG decode→resize→encode→decode loop breaks the "
    "match. Scale: fingerprints are one 64-bit row per image; the "
    "band join is equi (candidates ~ bucket collisions, not n²).",
)
def m08_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.4): the decoded aHash frame feeds both band-join
    # sides — the lazy persist let them race and run the PNG decode
    # twice inside one job. Scratch-tier build (240 rows).
    fp = tier(
        _m08_fingerprints,
        n_assets=MM_PAIR_N_ASSETS,
        factor=MM_PAIR_UPSCALE,
        id_offset=MM_PAIR_ID_OFFSET,
    )
    bands = fp.select(
        "asset_id",
        "hi",
        "lo",
        F.explode(F.sequence(F.lit(0), F.lit(M08_BANDS - 1))).alias("c"),
    ).withColumn(
        "v",
        F.expr(
            "CASE WHEN c < 2 THEN shiftright(hi, 16 * (1 - c)) & 65535 "
            "ELSE shiftright(lo, 16 * (3 - c)) & 65535 END"
        ),
    )
    a = bands.select(
        F.col("asset_id").alias("id_a"),
        F.col("hi").alias("ha"),
        F.col("lo").alias("la"),
        "c",
        "v",
    )
    b = bands.select(
        F.col("asset_id").alias("id_b"),
        F.col("hi").alias("hb"),
        F.col("lo").alias("lb"),
        F.col("c").alias("_c2"),
        F.col("v").alias("_v2"),
    )
    cand = (
        a.join(
            b,
            (a["c"] == b["_c2"]) & (a["v"] == b["_v2"]) & (a["id_a"] < b["id_b"]),
        )
        .select("id_a", "id_b", "ha", "la", "hb", "lb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) + F.bit_count(
        F.col("la").bitwiseXOR(F.col("lb"))
    )
    return cand.filter(ham <= M08_MAX_HAM).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# d16 — dedup savings report (round 7; the FinOps endpoint of dedup)
# ---------------------------------------------------------------------------


@query(
    "d16_dedup_savings",
    oracle=f"""
    WITH c AS (
        SELECT doc_id, source, md5(text) AS h,
               CAST(length(text) AS BIGINT) AS b
        FROM documents
    ),
    canon AS (SELECT h, MIN(doc_id) AS keep FROM c GROUP BY h)
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN c.doc_id = canon.keep THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN c.doc_id = canon.keep THEN 0 ELSE b END)
                AS BIGINT) AS dropped_chars,
           {sql_fround(
               "CAST(SUM(CASE WHEN c.doc_id = canon.keep THEN 0 ELSE b END)"
               " AS DOUBLE) / SUM(b)",
               6,
           )} AS savings_frac
    FROM c JOIN canon ON c.h = canon.h
    GROUP BY c.source
    """,
    doc="Dedup savings report — the number that justifies the dedup "
    "stage's bill: exact content clusters (md5 of the text, t03's "
    "keep-first discipline with MIN(doc_id) as the deterministic "
    "canonical), then per source: docs, characters, how many survive, "
    "and the fraction of stored characters dedup deletes. Clusters "
    "are GLOBAL (a copy pasted across sources counts as a duplicate "
    "and the savings accrue to the source holding the copy, not the "
    "canonical's source). Scale: one content-hash groupBy + one "
    "equi-join back on the hash — exactly the t03 plan plus a "
    "source rollup; no pairwise anything.",
)
def d16_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("h"),
        F.length("text").cast("bigint").alias("b"),
    )
    canon = c.groupBy("h").agg(F.min("doc_id").alias("keep"))
    kept = F.when(F.col("doc_id") == F.col("keep"), 1).otherwise(0)
    dropped_b = F.when(F.col("doc_id") == F.col("keep"), 0).otherwise(F.col("b"))
    return (
        c.join(canon, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("b").cast("bigint").alias("total_chars"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.sum(dropped_b).cast("bigint").alias("dropped_chars"),
            fround(
                F.sum(dropped_b).cast("double") / F.sum("b"), 6
            ).alias("savings_frac"),
        )
    )


# ---------------------------------------------------------------------------
# d17 — prefix-subsumed document dedup (round 7; truncated-duplicate screen)
# ---------------------------------------------------------------------------

_D17_K = 32  # block key length; valid while min doc length >= K (see doc)


@query(
    "d17_prefix_subsumed",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source, text,
               CAST(length(text) AS BIGINT) AS len,
               substr(text, 1, {_D17_K}) AS blk
        FROM documents
    ),
    sub AS (
        SELECT DISTINCT a.doc_id, a.source, a.len
        FROM d a JOIN d b
          ON a.blk = b.blk AND a.len < b.len
         AND starts_with(b.text, a.text)
    ),
    n AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars
        FROM documents GROUP BY source
    )
    SELECT n.source, n_docs, total_chars,
           CAST(COALESCE(s.n_subsumed, 0) AS BIGINT) AS n_subsumed,
           CAST(COALESCE(s.subsumed_chars, 0) AS BIGINT) AS subsumed_chars
    FROM n LEFT JOIN (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_subsumed,
               CAST(SUM(len) AS BIGINT) AS subsumed_chars
        FROM sub GROUP BY source
    ) s ON n.source = s.source
    """,
    doc="Truncated-duplicate screen: a document whose FULL text is a "
    "strict prefix of another document (the crawler re-fetched the "
    "page and got more of it, or the pipeline truncated a copy) "
    "carries no information the longer copy lacks, yet exact-hash "
    "dedup (t03/d16) cannot see it. Candidates come from an EQUI-join "
    f"on the first-{_D17_K}-chars block key — a prefix pair "
    "necessarily shares the block since every document is at least "
    f"{_D17_K} chars in this corpus (min observed 44; a general "
    "corpus routes shorter docs through a broadcast side-pass) — "
    "then the strict-prefix predicate starts_with(longer, shorter) "
    "verifies within blocks, and DISTINCT collapses multi-superset "
    "hits. Reported per source against the full census with "
    "reclaimable characters. Scale: the pair join is bounded by "
    "sum(block_size^2) and the 32-char key spreads the text "
    "distribution (max block 4 at sf0.1); no global sort, no "
    "pairwise cross-source enumeration, and the sorted-successor "
    "identity (a is a prefix of some doc iff of its lexicographic "
    "successor) remains the fallback plan for adversarial block "
    "skew.",
)
def d17_prefix_subsumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "text",
        F.length("text").cast("bigint").alias("len"),
        F.substring("text", 1, _D17_K).alias("blk"),
    )
    a = d.select(
        F.col("doc_id"),
        F.col("source"),
        F.col("text").alias("_ta"),
        F.col("len"),
        F.col("blk"),
    )
    b = d.select(
        F.col("text").alias("_tb"),
        F.col("len").alias("_lb"),
        F.col("blk").alias("_bb"),
    )
    sub = (
        a.join(
            b,
            (a["blk"] == b["_bb"])
            & (a["len"] < b["_lb"])
            & F.col("_tb").startswith(F.col("_ta")),
        )
        .select("doc_id", "source", "len")
        .distinct()
    )
    n = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length("text").cast("bigint")).cast("bigint").alias("total_chars"),
    )
    s = sub.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subsumed"),
        F.sum("len").cast("bigint").alias("subsumed_chars"),
    )
    return n.join(s, "source", "left").select(
        "source",
        "n_docs",
        "total_chars",
        F.coalesce(F.col("n_subsumed"), F.lit(0)).cast("bigint").alias("n_subsumed"),
        F.coalesce(F.col("subsumed_chars"), F.lit(0))
        .cast("bigint")
        .alias("subsumed_chars"),
    )


# ---------------------------------------------------------------------------
# m09 — audio near-dup pairs via landmark fingerprints (round 7; the
# audio twin of m08's image banding)
# ---------------------------------------------------------------------------

M09_N_ASSETS = 120
M09_MIN_SHARED = 3  # pairs must share at least this many landmark hashes


def _m09_landmarks(n_assets: int) -> DataFrame:
    from ..operators.multimodal import audio_fingerprint, make_real_assets, rescale_audio

    assets = make_real_assets(SparkSession.active(), n_assets).select(
        "asset_id", "modality", "content", "meta"
    )
    both = assets.unionByName(rescale_audio(assets, gain=0.4, id_offset=1000))
    return audio_fingerprint(both).distinct()


@query(
    "m09_audio_neardup_pairs",
    oracle=None,  # real STFT peak landmarks — no SQL twin (the audio
    # corpus is synthesized float PCM; unlike m07's integer PNG pixels
    # the rfft magnitudes are not arithmetically reproducible in SQL).
    # Differential-tested instead: tests/test_operators.py pins that a
    # volume-rescaled copy emits the IDENTICAL hash set and that every
    # audio asset pairs with its rescaled twin at full shared count.
    doc="Audio near-duplicate detection on Shazam-style landmark "
    "fingerprints (Wang 2003; operators/multimodal.audio_fingerprint): "
    "the corpus is every WAV asset plus a volume-rescaled re-encode of "
    "each (REAL PCM gain + wave re-encode — completely different "
    "bytes, so exact-hash dedup sees nothing), fingerprinted via "
    "Hann-STFT band-peak constellations paired into int64 landmark "
    "hashes; candidate pairs come from an EQUI-JOIN on fp_hash and "
    f"survive at >= {M09_MIN_SHARED} shared landmarks. Peak bins are "
    "amplitude-invariant, so each clip finds its rescaled twin at "
    "full shared count — the m08 banding discipline transplanted to "
    "audio (hash-bucket equi-join, never all-pairs; dedup work is "
    "bounded by true collisions, not corpus^2). Scale: fingerprinting "
    "is a shuffle-free narrow map emitting dozens of 8-byte hashes "
    "per clip; the pair join shuffles on fp_hash.",
)
def m09_audio_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.4): the landmark fingerprints feed both pair-join
    # sides — un-materialized, the real WAV decode + STFT ran twice
    # inside one job. Scratch-tier build from the asset params.
    fp = tier(_m09_landmarks, n_assets=M09_N_ASSETS)
    a = fp.select(F.col("asset_id").alias("id_a"), "fp_hash")
    b = fp.select(F.col("asset_id").alias("id_b"), F.col("fp_hash").alias("_h2"))
    pairs = (
        a.join(b, (a["fp_hash"] == b["_h2"]) & (a["id_a"] < b["id_b"]))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_hashes"))
        .filter(F.col("shared_hashes") >= M09_MIN_SHARED)
    )
    return pairs.select("id_a", "id_b", "shared_hashes")


# ---------------------------------------------------------------------------
# m10 — the hash-checked PORTABLE TWIN of m09's pair stage (round 8;
# the d08/d09 move applied to audio landmark dedup): m09's real STFT
# landmarks are rfft floats no SQL engine reproduces, so the driver can
# only row-count it. m10 reruns the IDENTICAL fp_hash equi-join →
# shared-count threshold pipeline on engine-portable landmarks — token
# adjacency pairs Horner-hashed with the shared portable hash — so the
# pair machinery itself sits under the oracle hash gate.
# ---------------------------------------------------------------------------

M10_N_ASSETS = 120  # mirror M09_N_ASSETS: corpus = originals + twins
M10_GAP = 3  # landmark pairs peak i with peak i+GAP (Wang 2003's dt)
M10_DROP = 4  # the "re-encode": trim the first DROP tokens of the twin
M10_MAX_DF = 12  # drop hyper-common landmarks (> DF assets) pre-join
M10_MIN_SHARED = 9  # pairing threshold on df-capped shared landmarks


@query(
    "m10_portable_audio_pairs",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
        WHERE doc_id < {M10_N_ASSETS}
    ),
    corpus AS (
        SELECT doc_id AS asset_id, tk FROM base
        UNION ALL
        SELECT doc_id + 1000 AS asset_id, tk[{M10_DROP + 1}:] AS tk FROM base
    ),
    lm AS (
        SELECT DISTINCT asset_id, {sql_portable_hash("lmstr")} AS fp_hash
        FROM (
            SELECT asset_id,
                   unnest(list_distinct(
                       [tk[i] || '>' || tk[i + {M10_GAP}]
                        for i in range(1, len(tk) - {M10_GAP - 1})]
                   )) AS lmstr
            FROM corpus WHERE len(tk) > {M10_GAP}
        ) u
    ),
    rare AS (
        SELECT fp_hash FROM lm GROUP BY fp_hash
        HAVING COUNT(*) <= {M10_MAX_DF}
    ),
    lmr AS (SELECT asset_id, lm.fp_hash FROM lm JOIN rare USING (fp_hash))
    SELECT a.asset_id AS id_a, b.asset_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_hashes
    FROM lmr a JOIN lmr b
      ON a.fp_hash = b.fp_hash AND a.asset_id < b.asset_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {M10_MIN_SHARED}
    """,
    doc="m09's audio landmark PAIR STAGE made oracle-checkable (the "
    "d08/d09 portable-twin move): stand-in landmark fingerprints are "
    "token ADJACENCY pairs (token i with token i+3 — the analog of "
    "Wang 2003 pairing peak(t) with peak(t+dt)) Horner-hashed with "
    "the engine-portable integer fold, and each asset's 're-encode' "
    "twin trims its first 4 tokens — different bytes, landmark set "
    "mostly preserved, exactly how m09's volume rescale preserves "
    "peak bins while changing every sample. The downstream pipeline "
    "is IDENTICAL to m09 (plans/advanced.py m09): distinct per-asset "
    "hash set, fp_hash equi-join with id ordering, shared-count "
    "threshold — so the one rows-only query family now has its "
    "banding machinery hash-checked end to end, plus the df-cap "
    "every production fingerprint store applies (hashes present in "
    f"> {M10_MAX_DF} assets are dropped before pairing — Wang 2003's "
    "over-dense-region suppression / the d14 rare-anchor move), "
    "which makes the threshold razor-sharp here: 93 twin pairs, "
    "ZERO coincidental pairs at sf0.01. Scale: landmark emission is "
    "a shuffle-free narrow map; the df-cap bounds every hash bucket "
    f"at {M10_MAX_DF} rows, so the pair join fanout is <= df^2 per "
    "hash, never corpus^2 — and hot template landmarks can never "
    "skew the shuffle.",
)
def m10_portable_audio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X
    from ..operators.sketch import portable_hash

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < M10_N_ASSETS)
    base = d.select("doc_id", X.tokens(F.col("text")).alias("tk"))
    twin = base.select(
        (F.col("doc_id") + F.lit(1000)).alias("asset_id"),
        F.expr(f"slice(tk, {M10_DROP + 1}, size(tk))").alias("tk"),
    )
    corpus = base.select(F.col("doc_id").alias("asset_id"), "tk").unionByName(twin)
    landmarks = corpus.filter(F.size("tk") > M10_GAP).select(
        "asset_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - M10_GAP),
                    lambda i: F.concat(
                        F.element_at(F.col("tk"), i),
                        F.lit(">"),
                        F.element_at(F.col("tk"), i + M10_GAP),
                    ),
                )
            )
        ).alias("lmstr"),
    )
    fp = landmarks.select("asset_id", portable_hash(F.col("lmstr")).alias("fp_hash")).distinct()
    # df-cap: landmarks shared by more than M10_MAX_DF assets carry no
    # pairing signal and would hot-key the fp_hash shuffle — drop them
    # BEFORE the join (bounds every bucket's fanout at df^2)
    rare = (
        fp.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= M10_MAX_DF)
        .select("fp_hash")
    )
    fpr = fp.join(rare, "fp_hash")
    a = fpr.select(F.col("asset_id").alias("id_a"), "fp_hash")
    b = fpr.select(F.col("asset_id").alias("id_b"), F.col("fp_hash").alias("_h2"))
    pairs = (
        a.join(b, (a["fp_hash"] == b["_h2"]) & (a["id_a"] < b["id_b"]))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_hashes"))
        .filter(F.col("shared_hashes") >= M10_MIN_SHARED)
    )
    return pairs.select("id_a", "id_b", "shared_hashes")


# ---------------------------------------------------------------------------
# d18 — MinHash banding CONFIG TUNER (round 8): d14 measured ONE
# config's S-curve; d18 evaluates the whole b*r=32 menu against the
# corpus's true pair-similarity mass and reports what each knob buys
# ---------------------------------------------------------------------------

# (bands, rows) menu for a 32-perm signature, with (1/b)^(1/r) — the
# S-curve's 50%-catch threshold — precomputed in Python so both engines
# carry the IDENTICAL double literal (no cross-engine pow())
D18_CONFIGS = tuple(
    (b, 32 // b, (1.0 / b) ** (1.0 / (32 // b))) for b in (32, 16, 8, 4, 2, 1)
)
D18_TAU = 0.5  # near-dup intent threshold: 2*n_inter >= n_union, exact
_D18_Q = "1000000000.0"  # 1e-9 catch-probability quantization (t47 move)


def _d18_sql_chain(var: str, out: str) -> str:
    """SQL squaring chain {var}->{out}1..{out}32 (identical IEEE ops)."""
    return (
        f"{var} AS {out}1, ({var}*{var}) AS {out}2, "
        f"(({var}*{var})*({var}*{var})) AS {out}4"
    )


@query(
    "d18_minhash_band_tuning",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              for i in range(1, len(tk) - 1)]) AS shl
        FROM (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents)
        WHERE len(tk) >= 3
    ),
    px AS (
        SELECT DISTINCT doc_id, h
        FROM (SELECT doc_id, unnest(list_transform(shl, s -> {_D09_HASH_S})) AS h
              FROM sh)
    ),
    freq AS (
        SELECT h FROM px GROUP BY h
        HAVING COUNT(*) BETWEEN 2 AND {D14_MAX_DF}
    ),
    pxf AS (SELECT px.doc_id, px.h FROM px JOIN freq USING (h)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pxf a JOIN pxf b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    jac AS (
        SELECT id_a, id_b,
               CAST(len(list_intersect(x.shl, y.shl)) AS BIGINT) AS ni,
               CAST(len(x.shl) + len(y.shl)
                    - len(list_intersect(x.shl, y.shl)) AS BIGINT) AS nu
        FROM cand
        JOIN sh x ON x.doc_id = cand.id_a
        JOIN sh y ON y.doc_id = cand.id_b
    ),
    cfg AS (
        SELECT * FROM (VALUES (32, 1, CAST(0.03125 AS DOUBLE)), (16, 2, CAST(0.25 AS DOUBLE)), (8, 4, CAST(0.5946035575013605 AS DOUBLE)), (4, 8, CAST(0.8408964152537145 AS DOUBLE)), (2, 16, CAST(0.9576032806985737 AS DOUBLE)), (1, 32, CAST(1.0 AS DOUBLE))) AS t(bands, rws, s_star)
    ),
    chain AS (
        SELECT j.ni, j.nu, c.bands, c.rws, c.s_star,
               CAST(j.ni AS DOUBLE) / j.nu AS s1
        FROM jac j CROSS JOIN cfg c
    ),
    spow AS (
        SELECT *,
               CASE rws WHEN 1 THEN s1
                        WHEN 2 THEN s1*s1
                        WHEN 4 THEN (s1*s1)*(s1*s1)
                        WHEN 8 THEN ((s1*s1)*(s1*s1))*((s1*s1)*(s1*s1))
                        WHEN 16 THEN (((s1*s1)*(s1*s1))*((s1*s1)*(s1*s1)))
                                   * (((s1*s1)*(s1*s1))*((s1*s1)*(s1*s1)))
                        ELSE ((((s1*s1)*(s1*s1))*((s1*s1)*(s1*s1)))
                              * (((s1*s1)*(s1*s1))*((s1*s1)*(s1*s1))))
                             * ((((s1*s1)*(s1*s1))*((s1*s1)*(s1*s1)))
                                * (((s1*s1)*(s1*s1))*((s1*s1)*(s1*s1))))
               END AS sr
        FROM chain
    ),
    upow AS (
        SELECT *, (1.0 - sr) AS u1 FROM spow
    ),
    catch AS (
        SELECT bands, rws, s_star, ni, nu,
               CAST(FLOOR((1.0 - CASE bands
                   WHEN 1 THEN u1
                   WHEN 2 THEN u1*u1
                   WHEN 4 THEN (u1*u1)*(u1*u1)
                   WHEN 8 THEN ((u1*u1)*(u1*u1))*((u1*u1)*(u1*u1))
                   WHEN 16 THEN (((u1*u1)*(u1*u1))*((u1*u1)*(u1*u1)))
                              * (((u1*u1)*(u1*u1))*((u1*u1)*(u1*u1)))
                   ELSE ((((u1*u1)*(u1*u1))*((u1*u1)*(u1*u1)))
                         * (((u1*u1)*(u1*u1))*((u1*u1)*(u1*u1))))
                        * ((((u1*u1)*(u1*u1))*((u1*u1)*(u1*u1)))
                           * (((u1*u1)*(u1*u1))*((u1*u1)*(u1*u1))))
               END) * {_D18_Q} + 0.5) AS BIGINT) AS qp
        FROM upow
    )
    SELECT bands, rws,
           {sql_fround("s_star", 6)} AS s_star,
           CAST(SUM(CASE WHEN 2*ni >= nu THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_pairs,
           {sql_fround(
               "CAST(SUM(CASE WHEN 2*ni >= nu THEN qp ELSE 0 END) AS DOUBLE)"
               f" / (SUM(CASE WHEN 2*ni >= nu THEN 1 ELSE 0 END) * {_D18_Q})",
               6,
           )} AS expected_recall,
           {sql_fround(
               "CAST(SUM(CASE WHEN 2*ni < nu THEN qp ELSE 0 END) AS DOUBLE)"
               f" / (SUM(CASE WHEN 2*ni < nu THEN 1 ELSE 0 END) * {_D18_Q})",
               6,
           )} AS expected_fp_rate
    FROM catch
    GROUP BY 1, 2, 3
    """,
    doc="MinHash banding CONFIG TUNER: every (bands, rows) split of the "
    "32-perm signature evaluated against the corpus's OWN pair-"
    "similarity mass — per config, the S-curve catch probability "
    "1-(1-s^r)^b averaged over true near-dup pairs (expected recall) "
    "and over sub-threshold pairs (expected false-candidate rate), "
    "beside the analytic 50%-threshold (1/b)^(1/r) — the table that "
    "justifies d09's (8,4) choice with numbers instead of folklore "
    "(Leskovec-Rajaraman-Ullman ch.3 tuning, run on real mass, not "
    "assumed uniform similarity). Ground-truth pairs are the d14 "
    "rare-anchored set (df-bounded join); true Jaccard stays the "
    "exact integer pair (2*ni >= nu decides the class with no float); "
    "s^r and (1-s^r)^b run as explicit squaring chains (r, b are "
    "powers of 2 by construction), so both engines execute the "
    "IDENTICAL IEEE sequence; per-pair catch probabilities are 1e-9-"
    "quantized before summing (order-independent). Scale: the pair "
    "set is df^2-bounded per anchor; the config fanout is a 6-row "
    "broadcast; everything downstream is one 6-group aggregate.",
)
def d18_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        anchored_candidate_pairs,
        join_pair_sides,
        portable_signature_frame,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = portable_signature_frame(d, "doc_id", "text", _D09_K, 3)
    cand = anchored_candidate_pairs(
        d, "doc_id", "text", shingle_n=3, max_df=D14_MAX_DF
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("bigint")
    union = (F.size("_sh_a") + F.size("_sh_b")).cast("bigint") - inter
    jac = join_pair_sides(cand, sig.select("_id", "_sh")).select(
        "id_a", "id_b", inter.alias("ni"), union.alias("nu")
    )
    cfg = spark.createDataFrame(
        list(D18_CONFIGS), "bands int, rws int, s_star double"
    )
    s1 = F.col("ni").cast("double") / F.col("nu")
    chain = jac.crossJoin(F.broadcast(cfg)).withColumn("s1", s1)

    def sq_chain(col, picks: dict):
        c1 = F.col(col)
        c2 = c1 * c1
        c4 = c2 * c2
        c8 = c4 * c4
        c16 = c8 * c8
        c32 = c16 * c16
        pows = {1: c1, 2: c2, 4: c4, 8: c8, 16: c16, 32: c32}
        expr = None
        for k, v in pows.items():
            if k not in picks:
                continue
            cond = F.col(picks[k]) == k
            expr = F.when(cond, v) if expr is None else expr.when(cond, v)
        return expr

    spow = chain.withColumn("sr", sq_chain("s1", {k: "rws" for k in (1, 2, 4, 8, 16, 32)}))
    upow = spow.withColumn("u1", F.lit(1.0) - F.col("sr"))
    q = float(_D18_Q)
    catch = upow.withColumn(
        "qp",
        F.floor(
            (F.lit(1.0) - sq_chain("u1", {k: "bands" for k in (1, 2, 4, 8, 16, 32)}))
            * q
            + 0.5
        ).cast("bigint"),
    )
    is_true = (2 * F.col("ni")) >= F.col("nu")
    agg = catch.groupBy("bands", "rws", "s_star").agg(
        F.sum(F.when(is_true, 1).otherwise(0)).cast("bigint").alias("n_true_pairs"),
        F.sum(F.when(is_true, F.col("qp")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("s_t"),
        F.sum(F.when(~is_true, 1).otherwise(0)).cast("bigint").alias("n_sub"),
        F.sum(F.when(~is_true, F.col("qp")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("s_f"),
    )
    return agg.select(
        "bands",
        "rws",
        fround(F.col("s_star"), 6).alias("s_star"),
        "n_true_pairs",
        fround(F.col("s_t").cast("double") / (F.col("n_true_pairs") * q), 6).alias(
            "expected_recall"
        ),
        fround(F.col("s_f").cast("double") / (F.col("n_sub") * q), 6).alias(
            "expected_fp_rate"
        ),
    )


# ---------------------------------------------------------------------------
# d19 — cross-source exact-duplication matrix (round 8): WHO mirrors
# WHOM — t32 measures soft n-gram overlap between sources; d19 counts
# verbatim full-text duplication, the provenance audit that decides
# which feed to de-prioritize at ingest
# ---------------------------------------------------------------------------


@query(
    "d19_cross_source_dup_matrix",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT source,
               list_min(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               )) AS hh
        FROM (SELECT source, {_DUCK_TOKS} AS toks FROM documents) t
        WHERE len(toks) >= 3
    ),
    per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM h GROUP BY 1
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM h a JOIN h b ON a.hh = b.hh AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.n_shared,
           pa.n_distinct AS n_a, pb.n_distinct AS n_b,
           {sql_fround("CAST(p.n_shared AS DOUBLE) / pa.n_distinct", 6)}
               AS share_of_a,
           {sql_fround("CAST(p.n_shared AS DOUBLE) / pb.n_distinct", 6)}
               AS share_of_b
    FROM pairs p
    JOIN per pa ON pa.source = p.source_a
    JOIN per pb ON pb.source = p.source_b
    """,
    doc="Cross-source NEAR-duplication matrix: for every source pair, "
    "how many distinct min-shingle fingerprints (t04's 1-permutation "
    "MinHash rule) appear in both, as an absolute count and as a "
    "share of each side's distinct fingerprint corpus — the "
    "mirror-detection audit that tells an ingest owner which feed "
    "re-crawls which (t32's n-gram overlap scores SOFT similarity "
    "doc-by-doc; this counts provenance-grain collisions, and d16 "
    "prices what removing them saves). Fingerprint grain matters: "
    "this corpus has ZERO verbatim cross-source texts (md5 grain "
    "returns an empty matrix) but dozens of shared fingerprints — "
    "exactly the near-dup mass exact hashing cannot see. All counts "
    "exact int64; shares are single final divisions. Scale: the pair "
    "stage is an equi-join on the fingerprint — fanout bounded by "
    "true cross-source collision groups, never |sources|^2 x corpus "
    "— and per-source distinct counts are one fingerprint-grain "
    "rollup.",
)
def d19_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_frame

    d = load_table(spark, sf_dir, "documents")

    # r12 optimization (guide §2.4/§4): the first draft evaluated the
    # tokenize+shingle+md5 tower with tokens(text) INLINE — Catalyst's
    # projection collapse re-ran the split() inside every element_at
    # probe of shingles() — on ONE task (single small parquet file),
    # and the un-persisted `h` re-ran all of it once per consumer (the
    # per rollup plus BOTH pair-join sides = 3x). Measured 9.9 s solo
    # at sf0.1. Now: the shared fanned-out token frame materializes
    # _tk once (parallel, d-family cache key), the fingerprint is one
    # O(len) pass over a bound column, source rides a broadcast dim
    # join, and the distinct (source, fingerprint) frame lives on the
    # scratch-parquet frame tier so its three consumers — two of them
    # concurrently-started broadcast builds — read one materialized
    # frame instead of racing to rebuild it (the s29 lesson).
    def build_h(tf: DataFrame, d: DataFrame) -> DataFrame:
        from ..functions import text as X

        src = d.select(F.col("doc_id").alias("_id"), "source")
        return (
            tf.filter(F.size("_tk") >= 3)
            .select("_id", X.min_shingle_fingerprint(F.col("_tk")).alias("hh"))
            .join(F.broadcast(src), "_id")
            .select("source", "hh")
            .distinct()
        )

    h = tier(build_h, token_frame(d, "doc_id", "text"), d)
    per = h.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"))
    a = h.select(F.col("source").alias("source_a"), "hh")
    b = h.select(F.col("source").alias("source_b"), F.col("hh").alias("_h2"))
    pairs = (
        a.join(b, (a["hh"] == b["_h2"]) & (a["source_a"] < b["source_b"]))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("n_distinct").alias("n_a"))
    pb = per.select(F.col("source").alias("source_b"), F.col("n_distinct").alias("n_b"))
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            fround(F.col("n_shared").cast("double") / F.col("n_a"), 6).alias("share_of_a"),
            fround(F.col("n_shared").cast("double") / F.col("n_b"), 6).alias("share_of_b"),
        )
    )


# ---------------------------------------------------------------------------
# a04 — nearest-direction as-of join (round 8): completes the as-of menu
# (a01 backward, a02 forward+tolerance, a03 point-in-time, a04 nearest)
# ---------------------------------------------------------------------------


@query(
    "a04_asof_nearest",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    agg AS (
        SELECT p.event_id, p.user_id, p.ts,
               MAX(CASE WHEN v.ts <= p.ts THEN v.ts END) AS bt,
               MIN(CASE WHEN v.ts >= p.ts THEN v.ts END) AS ft
        FROM p JOIN v ON p.user_id = v.user_id
        GROUP BY 1, 2, 3
    ),
    m AS (
        SELECT event_id, user_id, ts,
               CASE WHEN bt IS NULL THEN ft
                    WHEN ft IS NULL THEN bt
                    WHEN epoch_ms(ft) - epoch_ms(ts)
                         < epoch_ms(ts) - epoch_ms(bt) THEN ft
                    ELSE bt END AS view_ts
        FROM agg
    )
    SELECT event_id, user_id, view_ts,
           CAST(epoch_ms(view_ts) - epoch_ms(ts) AS BIGINT) AS ms_offset
    FROM m
    WHERE ABS(epoch_ms(view_ts) - epoch_ms(ts)) <= 7200000
    """,
    doc="Nearest-direction as-of join (pd.merge_asof direction="
    "'nearest'): each purchase matched to the user's closest view in "
    "EITHER direction within 2 hours, ties broken backward — the "
    "attribution question 'which impression sits closest to this "
    "conversion' when late-arriving impressions make backward-only "
    "matching lossy. Completes the as-of menu (a01 backward, a02 "
    "forward+tolerance, a03 point-in-time). Spark side: the SAME "
    "union+window operator (operators/asof.py direction='nearest') — "
    "both directional picks ride ONE shuffle and one window sort, the "
    "closer |dt| wins per row; never a range cross join. Oracle: "
    "bounded correlated MAX/MIN per side with the same tie rule. "
    "ms_offset is signed (negative = view before purchase).",
)
def a04_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_time="ts",
        right_time="ts",
        payload_cols=[],
        how="inner",
        direction="nearest",
        tolerance_seconds=7200.0,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("_asof_time").alias("view_ts"),
        (
            F.unix_millis(F.col("_asof_time").cast("timestamp"))
            - F.unix_millis(F.col("ts").cast("timestamp"))
        ).alias("ms_offset"),
    )


# ---------------------------------------------------------------------------
# d21 — dedup-method consensus matrix (round 9): where the three
# oracle-checked pair families agree, on one pair universe
# ---------------------------------------------------------------------------

# the three pair stages are embedded as subqueries so the oracle replays
# the IDENTICAL pipelines the individual queries already hash-check
from . import text_stats as _text_mod  # registers d20 before the lookup below
from .registry import QUERIES as _REG

_D21_M_SQL = _REG["d09_portable_minhash_pairs"].oracle
_D21_S_SQL = _REG["d10_portable_simhash_pairs"].oracle
_D21_W_SQL = _REG["d20_winnowing_pairs"].oracle


@query(
    "d21_dedup_consensus",
    oracle=f"""
    WITH u AS (
        SELECT id_a, id_b,
               MAX(m) = 1 AS in_minhash,
               MAX(s) = 1 AS in_simhash,
               MAX(w) = 1 AS in_winnow
        FROM (
            SELECT id_a, id_b, 1 AS m, 0 AS s, 0 AS w FROM ({_D21_M_SQL})
            UNION ALL
            SELECT id_a, id_b, 0 AS m, 1 AS s, 0 AS w FROM ({_D21_S_SQL})
            UNION ALL
            SELECT doc_a AS id_a, doc_b AS id_b, 0 AS m, 0 AS s, 1 AS w
            FROM ({_D21_W_SQL})
        )
        GROUP BY 1, 2
    )
    SELECT in_minhash, in_simhash, in_winnow,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM u GROUP BY 1, 2, 3
    """,
    doc="Consensus matrix over the three hash-checked near-dup pair "
    "families — MinHash-LSH verified Jaccard >= 0.5 (d09), SimHash "
    "Hamming <= 1 (d10), winnowing >= 3 shared fingerprints (d20) — "
    "on the union pair universe: one row per membership combination "
    "with its pair count. This is the method-calibration readout a "
    "dedup pipeline needs before picking its production detector: "
    "pairs all three agree on are safe deletes, single-method pairs "
    "are where that method's bias lives (SimHash's token-set cosine "
    "vs MinHash's set Jaccard vs winnowing's positional containment "
    "— Henzinger 2006 measured exactly this disagreement at web "
    "scale). Each family's SQL is embedded VERBATIM from its own "
    "oracle, so the consensus inherits the three already-green "
    "gates; the Spark side reuses the three registered builders "
    "unchanged. Scale: the flag union is pair-grain (each family is "
    "banded/blocked/df-capped upstream, never all-pairs); the rollup "
    "emits <= 7 rows.",
)
def d21_dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_stats import d20_winnowing_pairs as _d20

    m = d09_portable_minhash_pairs(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("m"), F.lit(0).alias("s"), F.lit(0).alias("w")
    )
    s = d10_portable_simhash_pairs(spark, sf_dir).select(
        "id_a", "id_b", F.lit(0).alias("m"), F.lit(1).alias("s"), F.lit(0).alias("w")
    )
    w = _d20(spark, sf_dir).select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.lit(0).alias("m"),
        F.lit(0).alias("s"),
        F.lit(1).alias("w"),
    )
    u = (
        m.unionByName(s)
        .unionByName(w)
        .groupBy("id_a", "id_b")
        .agg(
            (F.max("m") == 1).alias("in_minhash"),
            (F.max("s") == 1).alias("in_simhash"),
            (F.max("w") == 1).alias("in_winnow"),
        )
    )
    return u.groupBy("in_minhash", "in_simhash", "in_winnow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# m11 — image difference-hash (dHash) from real decode (round 9):
# m07's gradient companion, hash-checked through the generator's
# closed-form pixels
# ---------------------------------------------------------------------------

_M11_XA = "(((c.cell % 8) * w) // 9)"
_M11_XB = "((((c.cell % 8) + 1) * w) // 9)"
_M11_Y = "(((c.cell // 8) * h) // 8)"


def _m11_lum(x: str, y: str) -> str:
    # BT.601 x1000 luma of the make_real_assets closed-form pixel at
    # (x, y): R=(7x+13y+seed), G=(31x+seed), B=17y, all mod 256 — the
    # SAME arithmetic the m07/m08 oracles pin against the real decoder
    return (
        f"(299 * (({x} * 7 + {y} * 13 + seed) % 256)"
        f" + 587 * (({x} * 31 + seed) % 256)"
        f" + 114 * (({y} * 17) % 256))"
    )


@query(
    "m11_image_dhash",
    oracle=f"""
    WITH imgs AS (
        SELECT i AS asset_id,
               4 + i % 13 AS w, 3 + i % 9 AS h, 42 + i AS seed
        FROM (SELECT unnest(generate_series(0, 119)) AS i) t
        WHERE i % 3 = 0 AND (i // 3) % 2 = 0
    ),
    bits AS (
        SELECT asset_id, w, h, c.cell,
               CASE WHEN {_m11_lum(_M11_XA, _M11_Y)}
                         > {_m11_lum(_M11_XB, _M11_Y)}
                    THEN 1 ELSE 0 END AS bit
        FROM imgs, (SELECT unnest(generate_series(0, 63)) AS cell) c
    )
    SELECT asset_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           string_agg(CAST(bit AS VARCHAR), '' ORDER BY cell) AS dhash_bits,
           CAST(SUM(bit) AS BIGINT) AS n_set_bits
    FROM bits GROUP BY asset_id, w, h
    """,
    doc="Difference-hash (dHash) fingerprints from REAL image decode — "
    "m07's gradient companion: per 8-row grid, 9 nearest-neighbor "
    "luma samples, bit = left sample strictly brighter than its right "
    "neighbour. Where the average hash compares every cell to the "
    "GLOBAL mean (so a brightness/contrast shift can flip many bits "
    "at once), dHash keeps only the sign of each LOCAL gradient — "
    "the standard second opinion an image-dedup stack runs beside "
    "ahash before trusting a match. Same hash-checked-despite-a-"
    "codec discipline as m07: PNG bytes go through the stdlib "
    "zlib-inflate + filter-reconstruction decoder inside Arrow "
    "mapInPandas, while the oracle regenerates the identical pixels "
    "ARITHMETICALLY from the make_real_assets closed form (R=7x+13y+"
    "seed, G=31x+seed, B=17y mod 256) — a one-pixel decode error "
    "flips the hash. JPEG assets excluded (m03 pins their decode "
    "parity). Scale: shuffle-free narrow map, one 64-bit row per "
    "image; band-blocked pairing rides the m08 machinery.",
)
def m11_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_dhash, make_real_assets

    assets = make_real_assets(spark, 120)
    return image_dhash(assets)


# ---------------------------------------------------------------------------
# m12 — image perceptual DCT hash (pHash) from real decode (round 10):
# completes the hash triptych (m07 ahash / m11 dhash / m12 phash)
# ---------------------------------------------------------------------------

from ..operators.multimodal import PHASH_BASIS  # noqa: E402

# the quantized basis as a SQL VALUES table: (k, t, b) for k 0..7, t 0..15
_M12_BASIS_VALUES = ", ".join(
    f"({k}, {t}, {b})"
    for k, row in enumerate(PHASH_BASIS)
    for t, b in enumerate(row)
)


def _m12_lum(x: str, y: str) -> str:
    # same closed-form make_real_assets pixel arithmetic as _m11_lum
    return (
        f"(299 * (({x} * 7 + {y} * 13 + seed) % 256)"
        f" + 587 * (({x} * 31 + seed) % 256)"
        f" + 114 * (({y} * 17) % 256))"
    )


@query(
    "m12_image_phash",
    oracle=f"""
    WITH imgs AS (
        SELECT i AS asset_id,
               4 + i % 13 AS w, 3 + i % 9 AS h, 42 + i AS seed
        FROM (SELECT unnest(generate_series(0, 119)) AS i) t
        WHERE i % 3 = 0 AND (i // 3) % 2 = 0
    ),
    basis AS (SELECT * FROM (VALUES {_M12_BASIS_VALUES}) AS v(k, t, b)),
    lum AS (
        SELECT asset_id, w, h, gx.t AS cx, gy.t AS cy,
               CAST({_m12_lum("((gx.t * w) // 16)", "((gy.t * h) // 16)")}
                   AS BIGINT) AS luma
        FROM imgs,
             (SELECT unnest(generate_series(0, 15)) AS t) gx,
             (SELECT unnest(generate_series(0, 15)) AS t) gy
    ),
    dct AS (
        SELECT l.asset_id, ANY_VALUE(l.w) AS w, ANY_VALUE(l.h) AS h,
               bu.k AS u, bv.k AS v,
               CAST(SUM(l.luma * bu.b * bv.b) AS BIGINT) AS c
        FROM lum l
        JOIN basis bu ON bu.t = l.cx
        JOIN basis bv ON bv.t = l.cy
        GROUP BY l.asset_id, bu.k, bv.k
    ),
    ac AS (SELECT * FROM dct WHERE NOT (u = 0 AND v = 0)),
    tot AS (SELECT asset_id, CAST(SUM(c) AS BIGINT) AS s FROM ac GROUP BY 1),
    bits AS (
        SELECT a.asset_id, a.w, a.h, a.u * 8 + a.v AS idx,
               CASE WHEN 63 * a.c > t.s THEN 1 ELSE 0 END AS bit
        FROM ac a JOIN tot t ON t.asset_id = a.asset_id
    )
    SELECT asset_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           string_agg(CAST(bit AS VARCHAR), '' ORDER BY idx) AS phash_bits,
           CAST(SUM(bit) AS BIGINT) AS n_set_bits
    FROM bits GROUP BY asset_id, w, h
    """,
    doc="Perceptual DCT hash (pHash) fingerprints from REAL image "
    "decode — the spectral member of the perceptual-hash triptych "
    "(m07 ahash = global-mean, m11 dhash = local-gradient, m12 = "
    "low-frequency spectrum): 16x16 nearest-neighbor luma grid, 2-D "
    "DCT-II restricted to the top-left 8x8 block, bit = AC "
    "coefficient above the mean of the 63 ACs (cross-multiplied, "
    "division-free). The DCT basis is a QUANTIZED INTEGER TABLE "
    "(round(cos * 1e4)) embedded verbatim in the operator AND this "
    "oracle — the table IS the definition, so the hash is integer-"
    "exact and independent of libm cos. Same hash-checked-despite-a-"
    "codec discipline as m07/m11: Spark decodes genuine PNG bytes "
    "(stdlib zlib inflate + filter reconstruction) inside Arrow "
    "mapInPandas while the oracle regenerates the identical pixels "
    "arithmetically from the make_real_assets closed form and "
    "replays the integer DCT in SQL — a one-pixel decode error or "
    "one wrong basis entry flips the hash. JPEG assets excluded "
    "(m03 pins their decode parity). Scale: shuffle-free narrow map, "
    "one 63-bit row per image; banded pairing is m13.",
)
def m12_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_phash, make_real_assets

    assets = make_real_assets(spark, 120)
    return image_phash(assets)


# ---------------------------------------------------------------------------
# m13 — image near-duplicate pairs on the m12 spectral fingerprints
# (round 10): the m08 banding discipline on the 63-bit pHash
# ---------------------------------------------------------------------------

M13_BANDS = 7  # 7 x 9-bit bands over the 63-bit phash
M13_MAX_HAM = 6  # pigeonhole: Hamming <= 6 guarantees >= 1 equal band


def _m13_fingerprints(**params) -> DataFrame:
    from ..operators.multimodal import image_phash

    return image_phash(_real_asset_pairs(**params)).select(
        "asset_id", F.conv(F.col("phash_bits"), 2, 10).cast("bigint").alias("fp")
    )


@query(
    "m13_phash_neardup_pairs",
    oracle=f"""
    WITH imgs AS (
        SELECT i AS asset_id,
               4 + i % 13 AS w, 3 + i % 9 AS h, 42 + i AS seed
        FROM (SELECT unnest(generate_series(0, 119)) AS i) t
        WHERE i % 3 = 0 AND (i // 3) % 2 = 0
    ),
    basis AS (SELECT * FROM (VALUES {_M12_BASIS_VALUES}) AS v(k, t, b)),
    lum AS (
        SELECT asset_id, gx.t AS cx, gy.t AS cy,
               CAST({_m12_lum("((gx.t * w) // 16)", "((gy.t * h) // 16)")}
                   AS BIGINT) AS luma
        FROM imgs,
             (SELECT unnest(generate_series(0, 15)) AS t) gx,
             (SELECT unnest(generate_series(0, 15)) AS t) gy
    ),
    dct AS (
        SELECT l.asset_id, bu.k AS u, bv.k AS v,
               CAST(SUM(l.luma * bu.b * bv.b) AS BIGINT) AS c
        FROM lum l
        JOIN basis bu ON bu.t = l.cx
        JOIN basis bv ON bv.t = l.cy
        GROUP BY l.asset_id, bu.k, bv.k
    ),
    ac AS (SELECT * FROM dct WHERE NOT (u = 0 AND v = 0)),
    tot AS (SELECT asset_id, CAST(SUM(c) AS BIGINT) AS s FROM ac GROUP BY 1),
    fp0 AS (
        SELECT a.asset_id,
               CAST(SUM(CASE WHEN 63 * a.c > t.s
                             THEN CAST(1 AS BIGINT) << (63 - (a.u * 8 + a.v))
                             ELSE 0 END) AS BIGINT) AS fp
        FROM ac a JOIN tot t ON t.asset_id = a.asset_id
        GROUP BY a.asset_id
    ),
    fp AS (
        SELECT asset_id, fp FROM fp0
        UNION ALL
        SELECT asset_id + 1000, fp FROM fp0
    ),
    bands AS (
        SELECT asset_id, fp, c.c AS c,
               (fp >> (9 * (6 - c.c))) & 511 AS bv
        FROM fp CROSS JOIN (SELECT unnest(range({M13_BANDS})) AS c) c
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b,
               a.fp AS fa, b.fp AS fb
        FROM bands a JOIN bands b
          ON a.c = b.c AND a.bv = b.bv AND a.asset_id < b.asset_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(fa, fb)) <= {M13_MAX_HAM}
    """,
    doc="Image near-duplicate pairs on m12's spectral fingerprints — "
    "the shipped consumer of the pHash, m08's banding discipline on "
    "the 63-bit spectrum hash. Corpus = the 20 m12 PNGs PLUS a x2 "
    "nearest-neighbor upscaled re-encode of each "
    "(operators/multimodal.upscale_assets): different bytes, "
    "IDENTICAL pHash, because the 16x16 luma grid samples the same "
    "source pixel on the upscale — with w' = 2w the sample is "
    "floor(floor(cx*2w/16)/2) = floor(cx*w/16) by the nested-floor "
    f"identity — and an identical grid feeds an identical DCT. "
    f"Pairing: {M13_BANDS} x 9-bit bands over the 63-bit fingerprint "
    f"packed into ONE bigint, equi-join on (band, value), exact "
    f"Hamming verify <= {M13_MAX_HAM} (pigeonhole-complete at 7 "
    "bands) — never an all-pairs compare. HASH-CHECKED end-to-end: "
    "the oracle regenerates pixels arithmetically, replays the "
    "integer DCT, derives the variant fingerprints from the floor "
    "identity, and re-runs the banding in SQL; any corruption in the "
    "real decode->resample->encode->decode loop breaks the match. "
    "Scale: one 63-bit row per image, equi band join (candidates ~ "
    "bucket collisions, not n^2).",
)
def m13_phash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.4): the decoded pHash frame feeds BOTH band-join
    # sides — the lazy persist let them race and run the real PNG/JPEG
    # decode pipeline twice inside one job. Scratch-tier build (240
    # rows) from the generated-asset params.
    fp = tier(
        _m13_fingerprints,
        n_assets=MM_PAIR_N_ASSETS,
        factor=MM_PAIR_UPSCALE,
        id_offset=MM_PAIR_ID_OFFSET,
    )
    bands = fp.select(
        "asset_id",
        "fp",
        F.explode(F.sequence(F.lit(0), F.lit(M13_BANDS - 1))).alias("c"),
    ).withColumn("bv", F.expr("shiftright(fp, 9 * (6 - c)) & 511"))
    a = bands.select(
        F.col("asset_id").alias("id_a"), F.col("fp").alias("fa"), "c", "bv"
    )
    b = bands.select(
        F.col("asset_id").alias("id_b"),
        F.col("fp").alias("fb"),
        F.col("c").alias("_c2"),
        F.col("bv").alias("_v2"),
    )
    cand = (
        a.join(
            b,
            (a["c"] == b["_c2"]) & (a["bv"] == b["_v2"]) & (a["id_a"] < b["id_b"]),
        )
        .select("id_a", "id_b", "fa", "fb")
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return cand.filter(ham <= M13_MAX_HAM).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# d22 — TF-IDF shingle-cosine near-dup pairs (round 10): the WEIGHTED
# similarity family member — d09 (MinHash≈Jaccard) and d10 (SimHash)
# treat every shingle equally; TF-IDF cosine discounts boilerplate
# shingles by their document frequency (the SpotSigs/CDC weighting)
# ---------------------------------------------------------------------------

D22_DF_MIN, D22_DF_MAX = 2, 20  # posting-list blocking band
D22_COS = 0.6  # near-dup decision threshold
_D22_Q = 1_000_000.0  # 1e-6 tf-idf weight quantization


@query(
    "d22_tfidf_cosine_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    sh AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
        FROM (SELECT doc_id, ts AS toks,
                     unnest(generate_series(1, len(ts) - 2)) AS i
              FROM toks WHERE len(ts) >= 3) t
    ),
    tf AS (
        SELECT doc_id, s, CAST(COUNT(*) AS BIGINT) AS tf
        FROM sh GROUP BY doc_id, s
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    idf AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY s),
    w AS (
        SELECT doc_id, s,
               CAST(FLOOR(tf * ln(CAST(n AS DOUBLE) / df) * {_D22_Q} + 0.5)
                   AS BIGINT) AS wq
        FROM tf JOIN idf USING (s) CROSS JOIN n
        WHERE df BETWEEN {D22_DF_MIN} AND {D22_DF_MAX}
    ),
    nrm AS (
        SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS nq FROM w GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.wq * b.wq) AS BIGINT) AS dotq,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM w a JOIN w b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared,
           {sql_fround(
               "CAST(dotq AS DOUBLE) / (sqrt(na.nq) * sqrt(nb.nq))", 6
           )} AS cosine
    FROM pairs
    JOIN nrm na ON na.doc_id = doc_a
    JOIN nrm nb ON nb.doc_id = doc_b
    WHERE CAST(dotq AS DOUBLE) / (sqrt(na.nq) * sqrt(nb.nq)) >= {D22_COS}
    """,
    doc=f"TF-IDF-weighted shingle-cosine near-dup pairs (cos >= "
    f"{D22_COS}): each doc is a vector over its 3-gram shingles "
    "weighted tf·ln(N/df), and candidate pairs come from the shingle "
    "POSTING-LIST join restricted to the df in "
    f"[{D22_DF_MIN}, {D22_DF_MAX}] band — the SpotSigs/CDC trick "
    "(Theobald et al., SIGIR'08): df=1 shingles match nothing, "
    "high-df shingles are boilerplate that both carries ~zero idf "
    "weight AND quadratic join fanout, so the band bounds pair "
    "generation at Σ df² per shingle while keeping the "
    "discriminative mass. Complements d09 (MinHash — unweighted "
    "Jaccard) and d10 (SimHash — unweighted Hamming) as the WEIGHTED "
    "family member; on the planted-dup corpus all three agree (d21 "
    "measures the overlap). Weights are 1e-6-quantized BIGINTs, so "
    "dot products and norms are exact integer sums — addition order "
    "can never flip the hash — and the single double division "
    "happens once per surviving pair. Scale: posting join fanout is "
    f"df-capped at {D22_DF_MAX}; everything else is "
    "(doc, shingle)-grain rollups with map-side combine.",
)
def d22_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_frame

    d = load_table(spark, sf_dir, "documents")

    # r12 (guide §2.4): the tf rollup fed n/idf/w (3 subtrees) and the
    # weight frame fed nrm + both posting-join sides (3 more) — the
    # shingle explode re-ran per consumer. The weight frame now builds
    # ONCE on the scratch tier from the shared d-family token frame.
    def build_w(tkf: DataFrame) -> DataFrame:
        from ..functions import text as X

        toks = tkf.filter(F.size("_tk") >= 3).select(
            F.col("_id").alias("doc_id"), F.col("_tk").alias("ts")
        )
        sh = toks.select(
            "doc_id", F.explode(X.shingles_zip(F.col("ts"), 3)).alias("s")
        )
        tf = sh.groupBy("doc_id", "s").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        n = tf.agg(F.count_distinct("doc_id").cast("bigint").alias("n"))
        idf = tf.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        return (
            tf.join(idf, "s")
            .filter((F.col("df") >= D22_DF_MIN) & (F.col("df") <= D22_DF_MAX))
            .crossJoin(F.broadcast(n))
            .select(
                "doc_id",
                "s",
                F.floor(
                    F.col("tf")
                    * F.log(F.col("n").cast("double") / F.col("df"))
                    * _D22_Q
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("wq"),
            )
        )

    w = tier(build_w, token_frame(d, "doc_id", "text"))
    nrm = w.groupBy("doc_id").agg(
        F.sum(F.col("wq") * F.col("wq")).cast("bigint").alias("nq")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "s", F.col("wq").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("_sb"), F.col("wq").alias("wb"))
    pairs = (
        a.join(b, (a["s"] == b["_sb"]) & (a["doc_a"] < b["doc_b"]))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dotq"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nq").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nq").alias("nb"))
    cosine = F.col("dotq").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cosine >= D22_COS)
        .select("doc_a", "doc_b", "n_shared", fround(cosine, 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# m14 — video shot-boundary detection from per-frame pHash (round 10):
# the signature-stream consumer of operators/multimodal.video_frame_phash
# — m05 reads mean luma per frame (the black-frame signal); this reads
# the SPECTRAL change between consecutive frames (the cut signal)
# ---------------------------------------------------------------------------

M14_CUT_HAM = 8  # consecutive-frame pHash Hamming >= 8 marks a cut
# (measured bimodal on the generator corpus: smooth motion <= 4,
# cross-seed scene jumps >= 8 — the classic shot-boundary threshold gap)


@query(
    "m14_shot_boundaries",
    oracle=None,  # REAL MJPEG pixel decode feeds the per-frame pHash —
    # SQL engines cannot replay a Huffman/IDCT codec; frame-hash parity
    # vs a direct python decode of the same AVI bytes is pinned in
    # tests/test_operators.py (the m05 discipline)
    doc="Video shot-boundary detection: per-frame 63-bit pHash "
    "(operators/multimodal.video_frame_phash — real MJPEG decode, "
    "m12's integer-exact DCT hash per frame), then per-video "
    "lag + bit_count(xor) Hamming between CONSECUTIVE frame "
    f"signatures; a distance >= {M14_CUT_HAM} is a cut (pHash is the "
    "standard shot-change feature precisely because JPEG blocking "
    "noise and smooth motion barely move the low-frequency spectrum "
    "while a scene change rewrites it — the measured distance "
    "distribution on this corpus is bimodal with nothing in [5, 7]). "
    "Output per video: frames sampled, cuts detected, max and mean "
    "consecutive distance — the shot-segmentation manifest a video "
    "curation pipeline fans out to per-shot sampling (m04) and "
    "dedup (m13). Scale: decode is a shuffle-free narrow Arrow map; "
    "the lag window is keyed per asset (state = one 63-bit signature "
    "per stream), and the rollup is asset-grain.",
)
def m14_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.multimodal import make_real_assets, video_frame_phash

    assets = make_real_assets(spark, 120)
    fp = video_frame_phash(assets).select(
        "asset_id",
        "frame_idx",
        F.conv(F.col("phash_bits"), 2, 10).cast("bigint").alias("fp"),
    )
    w = W.partitionBy("asset_id").orderBy("frame_idx")
    dist = F.bit_count(F.col("fp").bitwiseXOR(F.lag("fp").over(w)))
    per_frame = fp.select("asset_id", dist.alias("dist"))
    return per_frame.groupBy("asset_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum(F.when(F.col("dist") >= M14_CUT_HAM, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cuts"),
        F.max("dist").cast("int").alias("max_dist"),
        fround(
            F.sum(F.coalesce(F.col("dist"), F.lit(0))).cast("double")
            / F.greatest(F.count("dist"), F.lit(1)),
            4,
        ).alias("mean_dist"),
    )


# ---------------------------------------------------------------------------
# d23 — weighted vs unweighted dedup agreement (round 10): does the NEW
# TF-IDF cosine family (d22, df-weighted) flag the same pairs as the
# MinHash family (d09, unweighted Jaccard)? The 2-family membership
# matrix, same pair-universe technique as d21's 3-family consensus
# ---------------------------------------------------------------------------

_D23_M_SQL = _REG["d09_portable_minhash_pairs"].oracle
# d22 registers later in this module's import order at definition time,
# so its oracle is fetched lazily inside a builder function


def _d23_oracle() -> str:
    w_sql = _REG["d22_tfidf_cosine_pairs"].oracle
    return f"""
    WITH u AS (
        SELECT id_a, id_b,
               MAX(m) = 1 AS in_minhash,
               MAX(w) = 1 AS in_tfidf
        FROM (
            SELECT id_a, id_b, 1 AS m, 0 AS w FROM ({_D23_M_SQL})
            UNION ALL
            SELECT doc_a, doc_b, 0, 1 FROM ({w_sql})
        ) t
        GROUP BY id_a, id_b
    )
    SELECT in_minhash, in_tfidf,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM u GROUP BY in_minhash, in_tfidf
    """


def _d23_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = d09_portable_minhash_pairs(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("m"), F.lit(0).alias("w")
    )
    w = d22_tfidf_cosine_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.lit(0).alias("m"),
        F.lit(1).alias("w"),
    )
    u = (
        m.unionByName(w)
        .groupBy("id_a", "id_b")
        .agg(
            (F.max("m") == 1).alias("in_minhash"),
            (F.max("w") == 1).alias("in_tfidf"),
        )
    )
    return u.groupBy("in_minhash", "in_tfidf").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


_D23_DOC = (
    "Agreement matrix between the UNWEIGHTED and WEIGHTED near-dup "
    "families: d09's MinHash pairs (estimating set Jaccard — every "
    "shingle equal) unioned at pair grain with d22's TF-IDF cosine "
    "pairs (df-weighted — boilerplate shingles discounted), rolled up "
    "by joint membership (d21's technique applied to the new family). "
    "Pairs only ONE family flags are exactly where weighting matters: "
    "minhash-only pairs share bulk boilerplate that idf discounts to "
    "nothing; tfidf-only pairs share few but highly distinctive "
    "shingles that Jaccard dilutes. Both component pipelines are "
    "embedded verbatim (subquery composition of the REGISTERED "
    "oracles, the d21/s32 pattern), so this readout is hash-checked "
    "end to end on top of already-hash-checked parts. Scale: union of "
    "two banded/df-bounded pair stages + a <=3-row rollup — cost is "
    "the sum of the (shared-token-frame) components, no new shuffle "
    "shape."
)

query("d23_weighted_dedup_agreement", oracle=_d23_oracle(), doc=_D23_DOC)(_d23_impl)


# ---------------------------------------------------------------------------
# m15 — per-image luma-histogram entropy from real decode (round 11):
# the blank/flat/low-information screen, hash-checked through the
# generator's closed-form pixels (the m07/m11/m12 oracle pattern)
# ---------------------------------------------------------------------------

_M15_Q = 1_000_000_000.0  # 1e-9 quantization of -p·ln p terms (t51 pattern)
_M15_LUMA = (
    "299 * ((x * 7 + y * 13 + seed) % 256)"
    " + 587 * ((x * 31 + seed) % 256)"
    " + 114 * ((y * 17) % 256)"
)


@query(
    "m15_image_entropy",
    oracle=f"""
    WITH imgs AS (
        SELECT i AS asset_id,
               4 + i % 13 AS w, 3 + i % 9 AS h, 42 + i AS seed
        FROM (SELECT unnest(generate_series(0, 119)) AS i) t
        WHERE i % 3 = 0 AND (i // 3) % 2 = 0
    ),
    px AS (
        SELECT asset_id, ({_M15_LUMA}) // 1000 AS bin
        FROM imgs,
             (SELECT unnest(generate_series(0, 15)) AS x) xs,
             (SELECT unnest(generate_series(0, 10)) AS y) ys
        WHERE x < w AND y < h
    ),
    c AS (
        SELECT asset_id, bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM px GROUP BY asset_id, bin
    ),
    t AS (
        SELECT asset_id, CAST(SUM(cnt) AS BIGINT) AS n_pixels,
               CAST(COUNT(*) AS BIGINT) AS n_bins
        FROM c GROUP BY asset_id
    ),
    q AS (
        SELECT c.asset_id,
               CAST(SUM(CAST(FLOOR(
                   -(CAST(cnt AS DOUBLE) / n_pixels)
                   * ln(CAST(cnt AS DOUBLE) / n_pixels) * {_M15_Q} + 0.5
               ) AS BIGINT)) AS BIGINT) AS qh
        FROM c JOIN t ON c.asset_id = t.asset_id
        GROUP BY c.asset_id
    )
    SELECT t.asset_id, n_pixels, n_bins,
           {sql_fround(f"CAST(qh AS DOUBLE) / {_M15_Q}", 6)} AS entropy_nats
    FROM t JOIN q ON t.asset_id = q.asset_id
    """,
    doc="Per-image Shannon entropy of the 256-bin integer-luma "
    "histogram from REAL pixel decode: every PNG asset's bytes go "
    "through the stdlib inflate+unfilter decoder inside an Arrow "
    "mapInPandas map that emits ONE (asset_id, 1000x-luma) row per "
    "pixel (operators/multimodal.png_pixel_lumas) — the Python stays "
    "decode-only; binning, counting and the entropy fold are all "
    "JVM-side aggregates. This is the blank-frame / flat-texture / "
    "low-information screen an image curation pipeline runs before "
    "spending encoder-embedding compute (near-zero entropy = solid "
    "fills and test cards; the multimodal twin of t06's text quality "
    "score). Hash-checked end-to-end through the generator's "
    "closed-form pixels (the m07/m11/m12 pattern): the oracle replays "
    "R=(7x+13y+s)%256, G=(31x+s)%256, B=17y%256 per pixel, so a "
    "single mis-decoded byte anywhere in the zlib/filter chain flips "
    "the hash. Every -p·ln p term is quantized to a 1e-9 BIGINT "
    "before the per-asset sum (t51 discipline: addition order cannot "
    "flip the hash; p is an exact integer ratio). Scale: pixel "
    "fan-out is a narrow map bounded by image area; the histogram "
    "shuffle is (asset, <=256 bins) grain.",
)
def m15_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import make_real_assets, png_pixel_lumas

    assets = make_real_assets(spark, 120)
    px = png_pixel_lumas(assets).select(
        "asset_id", F.expr("luma_x1000 div 1000").alias("bin")
    )
    c = px.groupBy("asset_id", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    t = c.groupBy("asset_id").agg(
        F.sum("cnt").cast("bigint").alias("n_pixels"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )
    p = F.col("cnt").cast("double") / F.col("n_pixels")
    q_term = F.floor(-p * F.log(p) * _M15_Q + 0.5).cast("bigint")
    q = (
        c.join(t.select("asset_id", "n_pixels"), "asset_id")
        .select("asset_id", q_term.alias("qt"))
        .groupBy("asset_id")
        .agg(F.sum("qt").cast("bigint").alias("qh"))
    )
    return t.join(q, "asset_id").select(
        "asset_id",
        "n_pixels",
        "n_bins",
        fround(F.col("qh").cast("double") / _M15_Q, 6).alias("entropy_nats"),
    )
