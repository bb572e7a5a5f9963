"""Similarity-search queries over ``embeddings`` (SURVEY §2.11).

Brute-force cosine top-k is the exact baseline (oracle-checked: both
engines left-fold the same 64 doubles in the same order, so the scores
are bit-identical). The scale path (LSH-bucketed ANN, avoiding the full
cross product) lives in ``operators/similarity.py``.

Cross-vector averages (centroids, norm stats) quantize each element to
1e-6 *before* summing: per-element quantization is engine-identical,
and the integer sum is order-independent — a raw float AVG is not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..frames import tier
from ..operators.layout import fan_out
from ..sources.tables import load_table
from .money import fround, sql_fround
from .registry import query

EMBEDDING_DIM = 64  # driver testdata: embeddings.embedding is list<float>[64]
TOP_K = 5
N_QUERY_VECS = 5  # vec_id < 5 are the probe set
_Q = 1_000_000.0  # quantization scale for order-independent float sums


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double precision — same accumulation
    order as the DuckDB oracle's list_reduce, so results match exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def quantized(v: Column) -> Column:
    """floor(v·1e6 + 0.5) as bigint — exact, summable in any order."""
    return F.floor(v.cast("double") * _Q + F.lit(0.5))


_SQL_DOT_QC = (
    f"list_reduce(list_transform(generate_series(1, {EMBEDDING_DIM}),"
    " i -> CAST(q_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)), (a,b) -> a+b)"
)


def _sql_norm(alias: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(generate_series(1, {EMBEDDING_DIM}),"
        f" i -> CAST({alias}[i] AS DOUBLE) * CAST({alias}[i] AS DOUBLE)), (a,b) -> a+b))"
    )


_SQL_NORM_Q = _sql_norm("q_emb")
_SQL_NORM_C = _sql_norm("c_emb")
_SQL_NORM_E = _sql_norm("embedding")


@query(
    "s01_label_centroids",
    oracle=f"""
    SELECT label, CAST(dim AS INTEGER) AS dim,
           {sql_fround(f"CAST(SUM(CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * {_Q} + 0.5) AS BIGINT)) AS DOUBLE) / {_Q} / COUNT(*)", 4)} AS centroid
    FROM embeddings, range(0, {EMBEDDING_DIM}) t(dim)
    GROUP BY label, dim
    """,
    doc="Per-label centroid via posexplode + groupBy(label, dim) — the "
    "distributed way to average vectors (no driver-side collect). "
    "Elements quantized to 1e-6 for order-independent summation.",
)
def s01_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            fround(
                F.sum(quantized(F.col("v"))).cast("double") / _Q / F.count(F.lit(1)), 4
            ).alias("centroid")
        )
    )


@query(
    "s02_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
    pairs AS (
        SELECT q_id, c_id,
               {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos_sim
        FROM q CROSS JOIN c
        WHERE q_id <> c_id
    )
    SELECT q_id, c_id, {sql_fround("cos_sim", 6)} AS cos_sim, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT q_id, c_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rn
        FROM pairs
    ) ranked
    WHERE rn <= {TOP_K}
    """,
    doc="Brute-force cosine top-k ANN baseline: broadcast the probe set, "
    "score every candidate, per-query window rank. The exact-oracle "
    "gold standard the LSH variant is recall-measured against.",
)
def s02_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    # Probe set is small → broadcast; candidates stream by partition.
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("q_id") != F.col("c_id"))
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    ranked = pairs.select("q_id", "c_id", cos.alias("cos_sim")).withColumn(
        "rn", F.row_number().over(W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id"))
    )
    return ranked.filter(F.col("rn") <= TOP_K).select(
        "q_id", "c_id", fround(F.col("cos_sim"), 6).alias("cos_sim"), "rn"
    )


@query(
    "s03_norm_stats",
    oracle=f"""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {sql_fround(f"CAST(SUM(CAST(FLOOR({_SQL_NORM_E} * {_Q} + 0.5) AS BIGINT)) AS DOUBLE) / {_Q} / COUNT(*)", 4)} AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
    doc="Per-label vector-norm stats (embedding hygiene check); norms "
    "quantized to 1e-6 before averaging for order independence.",
)
def s03_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        fround(
            F.sum(quantized(l2_norm(F.col("embedding")))).cast("double") / _Q / F.count(F.lit(1)),
            4,
        ).alias("avg_norm"),
    )


NEARDUP_COS = 0.35  # testdata has no true dups; 0.35 selects the ~0.1% tail

_SQL_UNIT = (
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u "
    "FROM (SELECT vec_id, embedding, " + _sql_norm("embedding") + " AS nrm FROM embeddings) t"
)
_SQL_DOT_U = (
    f"list_reduce(list_transform(generate_series(1, {EMBEDDING_DIM}),"
    " i -> u_a[i] * u_b[i]), (a,b) -> a+b)"
)


@query(
    "d04_embedding_neardup",
    oracle=f"""
    WITH unit AS ({_SQL_UNIT}),
    a AS (SELECT vec_id AS vec_a, u AS u_a FROM unit),
    b AS (SELECT vec_id AS vec_b, u AS u_b FROM unit)
    SELECT vec_a, vec_b, {sql_fround(_SQL_DOT_U, 6)} AS cos_sim
    FROM a JOIN b ON vec_a < vec_b
    WHERE {_SQL_DOT_U} >= {NEARDUP_COS}
    """,
    doc="Embedding-cosine near-duplicate pairs (exact): vectors are "
    "unit-normalized ONCE (O(n) folds), then each pair costs a single "
    "left-fold dot product — not dot+2 norms per pair. The oracle "
    "normalizes identically so the folds stay bit-identical. The pair "
    "space is covered by a distributed block-pair equi-join "
    "(operators/similarity.block_pair_join): no broadcast, no nested-"
    "loop, per-task memory bounded by block size — the plan shape that "
    "survives 100×. Exactness at this loose threshold (0.35, θ≈70°) "
    "is inherently O(n²) compute — hyperplane-LSH collision prob/plane "
    "is 0.61 there, so recall-complete LSH would generate MORE pairs "
    "than brute force; LSH is the right candidate generator only in "
    "true near-dup territory (cos→1, lsh_cosine_topk).",
)
def d04_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import fan_out
    from ..operators.similarity import block_pair_join

    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    # two materialized steps so the norm lands as a plain column and is
    # NOT inlined into the per-element division lambda (64x recompute)
    nrm = e.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("_n")).persist()
    unit = nrm.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / F.col("_n")).alias("u"),
    ).persist()
    pairs = block_pair_join(unit, "vec_id", payload_cols=("u",))
    cos = dot_d(F.col("u_a"), F.col("u_b"))
    return (
        pairs.filter(cos >= NEARDUP_COS)
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            fround(cos, 6).alias("cos_sim"),
        )
    )


def dot_d(a: Column, b: Column) -> Column:
    """Dot product of two double arrays (no per-element cast)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


@query(
    "d06_semdedup",
    oracle=None,  # connected components is iterative — not SQL-expressible
    doc="SemDeDup-style semantic dedup (cluster → within-cluster "
    "near-dup groups → one representative each): the scale-default "
    "embedding dedup, Σ|cell|² compute instead of n² with per-task "
    "memory bounded by cell size. Output is one verdict row per vector "
    "(cell, duplicate-group label, kept flag); exactness within "
    "clusters and the farthest-from-centroid representative rule are "
    "asserted in tests/test_operators.py against the brute-force d04 "
    "pair set restricted to cells.",
)
def d06_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import semdedup
    from ..operators.layout import fan_out

    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    return semdedup(
        e, "vec_id", "embedding", nlist=16, cos_threshold=NEARDUP_COS
    )


@query(
    "s07_kmeans_clusters",
    oracle=None,  # Lloyd iterations — not SQL-expressible
    doc="Full k-means clustering (Lloyd's) over the embedding corpus: "
    "per-iteration one assignment map (plan-literal centroids, no "
    "shuffle) + one groupBy(cell, dim) rollup + a k x dim collect. "
    "Means sum 1e-6-quantized elements as exact integers, so clusters "
    "are independent of partition order (operators/similarity."
    "kmeans_fit, differential-tested against a numpy replica). Output "
    "is the per-cluster census with exact quantized inertia shares.",
)
def s07_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import fan_out
    from ..operators.similarity import kmeans_fit

    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    assigned, _centroids, _inertia = kmeans_fit(
        e, k=8, id_col="vec_id", vec_col="embedding", n_iter=5
    )
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("cluster")
    )


@query(
    "d07_semdedup_recall",
    oracle=None,  # depends on the (non-SQL) IVF cell assignment
    doc="Measures the SemDeDup trade inline: of all TRUE near-dup pairs "
    "(exact block-pair join at the d04 threshold), what fraction falls "
    "inside one IVF cell — i.e. the recall ceiling d06's within-cell "
    "dedup can reach. The paper's bet is that near-dups co-locate; "
    "this query turns that bet into a monitorable number (one row: "
    "global pairs, within-cell pairs, recall).",
)
def d07_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import fan_out
    from ..operators.similarity import block_pair_join, cached_ivf_index

    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    nrm = e.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("_n")).persist()
    unit = nrm.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / F.col("_n")).alias("u"),
    ).persist()
    pairs = (
        block_pair_join(unit, "vec_id", payload_cols=("u",))
        .filter(dot_d(F.col("u_a"), F.col("u_b")) >= NEARDUP_COS)
        .select("id_a", "id_b")
    )
    assigned, _ = cached_ivf_index(e, 16, "vec_id", "embedding", 42)
    cells = assigned.select("vec_id", "_cell")
    labeled = pairs.join(
        cells.select(F.col("vec_id").alias("id_a"), F.col("_cell").alias("_ca")), "id_a"
    ).join(cells.select(F.col("vec_id").alias("id_b"), F.col("_cell").alias("_cb")), "id_b")
    return labeled.agg(
        F.count(F.lit(1)).alias("n_global_pairs"),
        F.sum(F.when(F.col("_ca") == F.col("_cb"), 1).otherwise(0)).alias(
            "n_within_cell_pairs"
        ),
        fround(
            F.sum(F.when(F.col("_ca") == F.col("_cb"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("recall_ceiling"),
    )


# ---------------------------------------------------------------------------
# Portable hyperplane-LSH twins (s08 / d08): the bucket machinery of the
# rows-only ANN/SemDeDup paths, oracle-checked. The planes are seeded
# constants baked into BOTH sides — Spark as plan literals, DuckDB as
# CAST([...] AS DOUBLE[]) literals — and every dot product left-folds in
# the same order, so bucket ids and cosines are bit-identical.
# ---------------------------------------------------------------------------

N_PLANES = 4  # 16 buckets: ~n/16 vectors per bucket keeps pairs non-empty
PLANE_SEED = 11


def _planes() -> list[list[float]]:
    from ..operators.similarity import _hyperplanes

    return _hyperplanes(1, N_PLANES, EMBEDDING_DIM, PLANE_SEED)[0]


def _sql_plane_literal(plane: list[float]) -> str:
    return "CAST([" + ", ".join(repr(x) for x in plane) + "] AS DOUBLE[])"


def _sql_plane_dot(vec_sql: str, plane: list[float]) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {EMBEDDING_DIM}), "
        f"i -> CAST({vec_sql}[i] AS DOUBLE) * ({_sql_plane_literal(plane)})[i])), "
        f"(a, b) -> a + b)"
    )


def _sql_bucket(vec_sql: str) -> str:
    terms = [
        f"(CASE WHEN {_sql_plane_dot(vec_sql, p)} >= 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(_planes())
    ]
    return "(" + " + ".join(terms) + ")"


def _bucket_col(vec: Column) -> Column:
    from ..operators.similarity import const_array

    out = F.lit(0)
    for j, p in enumerate(_planes()):
        dot_j = F.aggregate(
            F.zip_with(vec, const_array(p), lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(dot_j >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


@query(
    "s08_bucket_lsh_topk",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb, bucket FROM b),
    pairs AS (
        SELECT q_id, c_id,
               {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos_sim
        FROM q JOIN c USING (bucket)
        WHERE q_id <> c_id
    )
    SELECT q_id, c_id, {sql_fround("cos_sim", 6)} AS cos_sim, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT q_id, c_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rn
        FROM pairs
    ) ranked
    WHERE rn <= {TOP_K}
    """,
    doc="Hyperplane-LSH ANN with the planes as SEEDED CONSTANTS baked "
    "into both engines: bucket by sign pattern, candidate pairs share "
    "a bucket, exact cosine re-rank — the hash-checked twin of the "
    "rows-only s04 (same machinery, single table, portable plane "
    "literals). Validates the sign-pattern bucketing, the bucket "
    "equi-join candidate generation, and the re-rank end to end.",
)
def s08_bucket_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", _bucket_col(F.col("embedding")).alias("bucket"))
    q = b.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    c = b.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"), "bucket")
    pairs = F.broadcast(q).join(c, "bucket").filter(F.col("q_id") != F.col("c_id"))
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    ranked = pairs.select("q_id", "c_id", cos.alias("cos_sim")).withColumn(
        "rn",
        F.row_number().over(W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id")),
    )
    return ranked.filter(F.col("rn") <= TOP_K).select(
        "q_id", "c_id", fround(F.col("cos_sim"), 6).alias("cos_sim"), "rn"
    )


@query(
    "d08_bucketed_neardup_pairs",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket,
               {_SQL_NORM_E} AS nrm
        FROM embeddings
    ),
    unit AS (
        SELECT vec_id, bucket,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u
        FROM b
    ),
    a AS (SELECT vec_id AS vec_a, bucket, u AS u_a FROM unit),
    bb AS (SELECT vec_id AS vec_b, bucket, u AS u_b FROM unit)
    SELECT bucket, vec_a, vec_b, {sql_fround(_SQL_DOT_U, 6)} AS cos_sim
    FROM a JOIN bb USING (bucket)
    WHERE vec_a < vec_b AND {_SQL_DOT_U} >= {NEARDUP_COS}
    """,
    doc="The SemDeDup PAIR STAGE made oracle-checkable: bucket the "
    "space with portable seeded hyperplanes (stand-in for the IVF "
    "cells, whose centroids are data-dependent and hence not SQL-"
    "expressible), then find near-dup pairs ONLY within a bucket via "
    "the same equi-join shape d06 uses — Σ|bucket|² compute, never "
    "n². Hash-checked against DuckDB computing identical buckets, "
    "unit vectors, and pair cosines (the twin of d06's non-iterative "
    "half; the union-find half is covered by the differential tests).",
)
def d08_bucketed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    nrm = e.select(
        "vec_id",
        "embedding",
        _bucket_col(F.col("embedding")).alias("bucket"),
        l2_norm(F.col("embedding")).alias("_n"),
    ).persist()
    unit = nrm.select(
        "vec_id",
        "bucket",
        F.transform("embedding", lambda x: x.cast("double") / F.col("_n")).alias("u"),
    )
    a = unit.select(F.col("vec_id").alias("vec_a"), "bucket", F.col("u").alias("u_a"))
    b = unit.select(F.col("vec_id").alias("vec_b"), "bucket", F.col("u").alias("u_b"))
    cos = dot_d(F.col("u_a"), F.col("u_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= NEARDUP_COS)
        .select("bucket", "vec_a", "vec_b", fround(cos, 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# s09 — int8 embedding quantization + recall audit (the 4x memory/IO
# reduction every large vector store applies before ANN)
# ---------------------------------------------------------------------------

_SQL_QVEC = (
    "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) / s + 0.5) AS BIGINT))"
)
_SQL_ABSMAX = (
    f"GREATEST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12)"
)


def _sql_int_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, {EMBEDDING_DIM}), i -> {a}[i] * {b}[i])), "
        f"(x, y) -> x + y)"
    )


@query(
    "s09_int8_quantized_recall",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding, {_SQL_ABSMAX} AS s FROM embeddings
    ),
    qt AS (SELECT vec_id, embedding, {_SQL_QVEC} AS qv FROM base),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb, qv AS q_qv FROM qt WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb, qv AS c_qv FROM qt),
    pairs AS (
        SELECT q_id, c_id,
               {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos_exact,
               CAST({_sql_int_dot("q_qv", "c_qv")} AS DOUBLE)
                 / (sqrt(CAST({_sql_int_dot("q_qv", "q_qv")} AS DOUBLE))
                    * sqrt(CAST({_sql_int_dot("c_qv", "c_qv")} AS DOUBLE))) AS cos_quant
        FROM q CROSS JOIN c WHERE q_id <> c_id
    ),
    ex AS (
        SELECT q_id, c_id, cos_exact, cos_quant,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_exact DESC, c_id) AS rn_e
        FROM pairs
    ),
    qu AS (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_quant DESC, c_id) AS rn_q
        FROM pairs
    )
    SELECT ex.q_id,
           CAST(COUNT(qu.c_id) AS BIGINT) AS n_overlap,
           {sql_fround("AVG(ABS(ex.cos_exact - ex.cos_quant))", 6)} AS avg_cos_err
    FROM ex LEFT JOIN qu
      ON qu.q_id = ex.q_id AND qu.c_id = ex.c_id AND qu.rn_q <= {TOP_K}
    WHERE ex.rn_e <= {TOP_K}
    GROUP BY ex.q_id
    """,
    doc="Int8 embedding quantization with an inline recall audit: each "
    "vector quantizes to int8 with a per-vector absmax/127 scale (the "
    "4x memory/scan reduction every large vector store applies), and "
    "because cosine is scale-invariant the quantized similarity "
    "reduces to EXACT integer dot products — bit-identical on any "
    "engine, so the whole audit is oracle-checked. Output per probe: "
    "top-k overlap between exact and quantized rankings plus the mean "
    "absolute cosine error over the exact top-k — the go/no-go "
    "numbers for switching the ANN corpus to int8.",
)
def s09_int8_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    s = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))) / F.lit(127.0),
        F.lit(1e-12),
    )
    # _s must exist before the transform references it: two-step select
    qt = (
        e.withColumn("_s", s)
        .select(
            "vec_id",
            "embedding",
            F.transform(
                "embedding", lambda x: F.floor(x.cast("double") / F.col("_s") + F.lit(0.5))
            ).alias("qv"),
        )
    )
    q = qt.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), F.col("qv").alias("q_qv")
    )
    c = qt.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"), F.col("qv").alias("c_qv")
    )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        )

    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb")))
            ).alias("cos_exact"),
            (
                idot(F.col("q_qv"), F.col("c_qv")).cast("double")
                / (
                    F.sqrt(idot(F.col("q_qv"), F.col("q_qv")).cast("double"))
                    * F.sqrt(idot(F.col("c_qv"), F.col("c_qv")).cast("double"))
                )
            ).alias("cos_quant"),
        )
    )
    ex = pairs.withColumn(
        "rn_e", F.row_number().over(W.partitionBy("q_id").orderBy(F.col("cos_exact").desc(), "c_id"))
    ).filter(F.col("rn_e") <= TOP_K)
    qu = (
        pairs.withColumn(
            "rn_q",
            F.row_number().over(W.partitionBy("q_id").orderBy(F.col("cos_quant").desc(), "c_id")),
        )
        .filter(F.col("rn_q") <= TOP_K)
        .select("q_id", "c_id", F.lit(1).alias("_hit"))
    )
    return (
        ex.join(qu, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_overlap"),
            fround(F.avg(F.abs(F.col("cos_exact") - F.col("cos_quant"))), 6).alias(
                "avg_cos_err"
            ),
        )
    )


# ---------------------------------------------------------------------------
# s12 — reciprocal-rank fusion of the lexical (BM25) and vector retrievers
# ---------------------------------------------------------------------------

RRF_K = 60  # standard RRF dampening constant (Cormack et al., SIGIR'09)
RRF_LIST_N = 100  # each retriever contributes its top-N list
RRF_TOP = 20  # fused results returned


def _sql_bm25_ranked() -> str:
    """DuckDB CTE body: BM25 top-RRF_LIST_N ranking, t30's exact
    integer-quantized scoring (same constants, same formula)."""
    from .text import BM25_B, BM25_K1, BM25_TERMS, _DUCK_TOKS

    terms_in = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(ts)) AS BIGINT) AS sum_dl FROM toks
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf, ANY_VALUE(dl) AS dl
        FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM toks) t
        WHERE tok IN ({terms_in})
        GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    scored AS (
        SELECT t.doc_id,
               CAST(FLOOR(
                 ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * (CAST(tf AS DOUBLE) * {BM25_K1 + 1.0})
                 / (CAST(tf AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B}
                      + {BM25_B} * CAST(dl AS DOUBLE) * n_docs / sum_dl))
                 * 1000000000.0 + 0.5) AS BIGINT) AS sq
        FROM tf t JOIN df USING (tok) CROSS JOIN stats
    ),
    lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS BIGINT)
                   AS lex_rank
        FROM (SELECT doc_id, SUM(sq) AS score_q FROM scored GROUP BY doc_id) s
        ORDER BY lex_rank LIMIT {RRF_LIST_N}
    )"""


@query(
    "s12_rrf_hybrid_rank",
    oracle=f"""
    WITH {_sql_bm25_ranked()},
    q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
          WHERE vec_id <> 0),
    vec AS (
        SELECT c_id AS doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, c_id) AS BIGINT)
                   AS vec_rank
        FROM (
            SELECT c_id, {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos_sim
            FROM q CROSS JOIN c
        ) p
        ORDER BY vec_rank LIMIT {RRF_LIST_N}
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank, v.vec_rank,
               {sql_fround(
                   f"COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0.0)"
                   f" + COALESCE(1.0 / ({RRF_K} + v.vec_rank), 0.0)", 6)}
                   AS rrf_score
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
               AS fused_rank
    FROM fused
    ORDER BY fused_rank LIMIT {RRF_TOP}
    """,
    doc=f"Hybrid-search reciprocal-rank fusion (Cormack et al.): the "
    f"BM25 lexical top-{RRF_LIST_N} (t30's exact integer-quantized "
    f"scoring) and the cosine vector top-{RRF_LIST_N} (query = vec 0) "
    f"are fused on doc_id = vec_id with score Σ 1/({RRF_K}+rank), "
    f"absent-list ranks contributing 0 — the standard RAG retrieval "
    "merge. Both input lists are top-N-bounded BEFORE the fusion "
    "join (TakeOrderedAndProject, no global sort), so the full-outer "
    "fusion touches ≤2N rows per query regardless of corpus size; "
    "ranks are integers and the fused score is two IEEE divisions "
    "plus one add, so the ordering replays identically on both "
    "engines (doc_id tiebreak).",
)
def s12_rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X
    from .text import BM25_B, BM25_K1, BM25_TERMS

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", X.tokens(F.col("text")).alias("ts"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.size("ts")).alias("sum_dl")
    )
    tf = (
        toks.select("doc_id", F.size("ts").alias("dl"), F.explode("ts").alias("tok"))
        .filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    j = tf.join(F.broadcast(df_), "tok").crossJoin(F.broadcast(stats))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    num = F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)
    den = F.col("tf").cast("double") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * F.col("dl").cast("double") * F.col("n_docs") / F.col("sum_dl")
    )
    sq = F.floor(idf * num / den * F.lit(1000000000.0) + F.lit(0.5)).cast("bigint")
    lex_scores = (
        j.select("doc_id", sq.alias("sq"))
        .groupBy("doc_id")
        .agg(F.sum("sq").alias("score_q"))
        .orderBy(F.col("score_q").desc(), "doc_id")
        .limit(RRF_LIST_N)
    )
    # the three single-partition windows below are intentional: each
    # ranks an already TakeOrderedAndProject-capped list (RRF_LIST_N /
    # RRF_TOP rows), never the corpus
    lex = lex_scores.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score_q").desc(), "doc_id"))
        .cast("bigint")
        .alias("lex_rank"),
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cand = e.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    vec_scores = (
        F.broadcast(qv)
        .crossJoin(cand)
        .select(F.col("c_id").alias("doc_id"), cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(RRF_LIST_N)
    )
    vec = vec_scores.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("cos_sim").desc(), "doc_id"))
        .cast("bigint")
        .alias("vec_rank"),
    )

    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        fround(
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    top = fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(RRF_TOP)
    return top.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.col("rrf_score").desc(), "doc_id"))
        .cast("bigint")
        .alias("fused_rank"),
    )


# ---------------------------------------------------------------------------
# d12 — oracle-checked semantic-dedup twin (fixed centroids, greedy rule)
# ---------------------------------------------------------------------------

D12_NLIST = 8  # fixed probe centroids: the first D12_NLIST vectors by id
D12_TAU = 0.35  # same loose near-dup threshold as d04/d06


@query(
    "d12_semdedup_greedy",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
        WHERE vec_id < {D12_NLIST}
    ),
    dists AS (
        SELECT e.vec_id, c.cell,
               list_reduce(list_transform(generate_series(1, {EMBEDDING_DIM}),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE))),
                   (a,b) -> a+b) AS d
        FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    units AS (
        SELECT a.vec_id, a.cell,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE) / {_SQL_NORM_E}) AS u
        FROM assigned a JOIN embeddings e USING (vec_id)
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM units a JOIN units b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_reduce(list_transform(generate_series(1, {EMBEDDING_DIM}),
                  i -> a.u[i] * b.u[i]), (x,y) -> x+y) >= {D12_TAU}
    )
    SELECT u.vec_id, CAST(u.cell AS BIGINT) AS cell,
           d.vec_id IS NULL AS kept
    FROM units u LEFT JOIN dropped d ON d.vec_id = u.vec_id
    """,
    doc=f"Hash-checked twin of the d06 semantic-dedup pipeline: cell "
    f"assignment against {D12_NLIST} FIXED plan-literal centroids (the "
    "first vectors by id — no k-means refinement, so the whole "
    "pipeline is SQL-expressible) and the ONE-PASS greedy rule (drop "
    "any vector with a smaller-id same-cell neighbor at cos >= "
    f"{D12_TAU}). d06 keeps the trained centroids and exact "
    "component semantics as the production path (rows-only); this "
    "twin pins the shared machinery — L2 argmin assignment, unit "
    "normalization, within-cell equi-join pair generation, cosine "
    "folds — to a DuckDB replay, so an assignment or fold regression "
    "breaks a HASH check, not just a differential test. Same scale "
    "shape as d06: centroids broadcast, pairs confined to cell "
    "equi-joins, Σ|cell|² compute.",
)
def d12_semdedup_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < D12_NLIST).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    sqdist = F.aggregate(
        F.zip_with(
            "embedding",
            "c_emb",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", "embedding", sqdist.alias("d")
    )
    assigned = (
        dists.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.col("d"), F.col("cell"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "embedding")
    )
    units = assigned.select(
        "vec_id",
        "cell",
        F.transform(
            "embedding", lambda x: x.cast("double") / l2_norm(F.col("embedding"))
        ).alias("u"),
    )
    a = units.select(F.col("vec_id").alias("id_a"), "cell", F.col("u").alias("ua"))
    b = units.select(F.col("vec_id").alias("vec_id"), "cell", F.col("u").alias("ub"))
    cosab = F.aggregate(
        F.zip_with("ua", "ub", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("vec_id"))
        .filter(cosab >= D12_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return units.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
    )


# ---------------------------------------------------------------------------
# s13 — Matryoshka-style dimension truncation + recall audit (the
# cheap-first ranking trick: score with a prefix of the embedding,
# keep the full vector only for the final re-rank)
# ---------------------------------------------------------------------------

MRL_DIM = 16  # prefix dimensions used by the truncated scorer


def _sql_dot_prefix(a: str, b: str, dim: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x,y) -> x+y)"
    )


def _sql_norm_prefix(a: str, dim: int) -> str:
    return (
        f"sqrt(list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x,y) -> x+y))"
    )


@query(
    "s13_mrl_truncation_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
    pairs AS (
        SELECT q_id, c_id,
               {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos_full,
               {_sql_dot_prefix("q_emb", "c_emb", MRL_DIM)}
                 / ({_sql_norm_prefix("q_emb", MRL_DIM)}
                    * {_sql_norm_prefix("c_emb", MRL_DIM)}) AS cos_trunc
        FROM q CROSS JOIN c WHERE q_id <> c_id
    ),
    ex AS (
        SELECT q_id, c_id, cos_full,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_full DESC, c_id) AS rn_e
        FROM pairs
    ),
    tr AS (
        SELECT q_id, c_id, cos_full,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_trunc DESC, c_id) AS rn_t
        FROM pairs
    )
    SELECT ex.q_id,
           CAST(COUNT(tr.c_id) AS BIGINT) AS n_overlap,
           CAST(SUM(FLOOR(ex.cos_full * 1000000.0 + 0.5)) AS DOUBLE)
             / 1000000.0 / {TOP_K} AS exact_full_avg,
           (SELECT CAST(SUM(FLOOR(t2.cos_full * 1000000.0 + 0.5)) AS DOUBLE)
                     / 1000000.0 / {TOP_K}
            FROM tr t2 WHERE t2.q_id = ex.q_id AND t2.rn_t <= {TOP_K})
             AS trunc_full_avg
    FROM ex LEFT JOIN tr
      ON tr.q_id = ex.q_id AND tr.c_id = ex.c_id AND tr.rn_t <= {TOP_K}
    WHERE ex.rn_e <= {TOP_K}
    GROUP BY ex.q_id
    """,
    doc=f"Matryoshka-representation truncation audit: rank candidates "
    f"by cosine over only the first {MRL_DIM} of {EMBEDDING_DIM} "
    "embedding dimensions (the cheap-first scorer every MRL-trained "
    "vector store uses to cut scan bytes 4-16x), then measure what "
    "the truncation costs against the full-dimension exact ranking: "
    f"per probe, the top-{TOP_K} overlap plus the mean FULL-space "
    f"cosine of the truncated top-{TOP_K} vs the exact top-{TOP_K} "
    "(quantized to 1e-6 per element before summing, so the averages "
    "are order-independent and engine-identical). Prefix dot/norm "
    "folds run left-to-right in double on both engines — scores are "
    "bit-identical, rankings replay with the c_id tiebreak. The "
    "go/no-go readout for switching a 100 TB ANN scan to prefix "
    "scoring with full-vector re-rank.",
)
def s13_mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")

    # r13 (guide §2.4): `pairs` — the only corpus-proportional pass
    # (two dot/norm folds per (probe, candidate) row) — fed the exact
    # window AND the truncated window, and `tr` additionally fed both
    # the overlap hits and the truncated-average rollup: the crossJoin
    # scorer ran up to 3x per job. Both frames ride the scratch tier
    # (pairs is probe-grain bounded: N_QUERY_VECS x corpus narrow
    # rows; tr is 5 x TOP_K rows), and the candidate scan fans out
    # first (one parquet file must not mean a one-task scorer).
    def build_pairs(e: DataFrame) -> DataFrame:
        trunc = lambda col: F.slice(col, 1, MRL_DIM)  # noqa: E731
        q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
        c = fan_out(e).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
        )
        return (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("q_id") != F.col("c_id"))
            .select(
                "q_id",
                "c_id",
                (
                    dot(F.col("q_emb"), F.col("c_emb"))
                    / (l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb")))
                ).alias("cos_full"),
                (
                    dot(trunc(F.col("q_emb")), trunc(F.col("c_emb")))
                    / (
                        l2_norm(trunc(F.col("q_emb")))
                        * l2_norm(trunc(F.col("c_emb")))
                    )
                ).alias("cos_trunc"),
            )
        )

    pairs = tier(build_pairs, e)
    ex = pairs.withColumn(
        "rn_e",
        F.row_number().over(W.partitionBy("q_id").orderBy(F.col("cos_full").desc(), "c_id")),
    ).filter(F.col("rn_e") <= TOP_K)
    tr = tier(
        lambda pairs: pairs.withColumn(
            "rn_t",
            F.row_number().over(W.partitionBy("q_id").orderBy(F.col("cos_trunc").desc(), "c_id")),
        ).filter(F.col("rn_t") <= TOP_K),
        pairs,
    )
    qsum = lambda col: F.sum(quantized(col)).cast("double") / _Q / TOP_K  # noqa: E731
    trunc_avg = tr.groupBy("q_id").agg(qsum(F.col("cos_full")).alias("trunc_full_avg"))
    hits = tr.select("q_id", "c_id", F.lit(1).alias("_hit"))
    return (
        ex.join(hits, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_overlap"),
            qsum(F.col("cos_full")).alias("exact_full_avg"),
        )
        .join(F.broadcast(trunc_avg), "q_id")
    )


# ---------------------------------------------------------------------------
# s14 — metadata-filtered vector search (the WHERE clause every real
# vector store applies before similarity ranking)
# ---------------------------------------------------------------------------


@query(
    "s14_filtered_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
               FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS c_id, label, embedding AS c_emb FROM embeddings),
    pairs AS (
        SELECT q_id, c_id,
               {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos_sim
        FROM q JOIN c ON c.label = q.q_label
        WHERE q_id <> c_id
    )
    SELECT q_id, c_id, {sql_fround("cos_sim", 6)} AS cos_sim, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT q_id, c_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rn
        FROM pairs
    ) ranked
    WHERE rn <= {TOP_K}
    """,
    doc="Metadata-filtered vector search: each probe ranks ONLY "
    "candidates sharing its label — the pre-filter every production "
    "vector store applies (tenant, language, date partition) before "
    "similarity ranking. Expressed as a label EQUI-JOIN rather than a "
    "post-filter on the full cross product, so the candidate set "
    "shrinks to the probe's partition BEFORE any cosine is computed — "
    "at 100 TB the label is the storage partition key and this join "
    "becomes a pruned scan of one partition per probe (the filtered "
    "analog of s02; same fold, same tiebreak, fully hash-checked).",
)
def s14_filtered_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"), F.col("label"), F.col("embedding").alias("c_emb")
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("label") == F.col("q_label"))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb")))
            ).alias("cos_sim"),
        )
    )
    ranked = pairs.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id")),
    )
    return ranked.filter(F.col("rn") <= TOP_K).select(
        "q_id", "c_id", fround(F.col("cos_sim"), 6).alias("cos_sim"), "rn"
    )


# ---------------------------------------------------------------------------
# s15 — the hash-checked IVF-PQ twin (the d12 move applied to s11):
# FIXED data-derived centroids and codebooks make the whole IVFADC
# chain — cell assignment, subspace argmin encoding, LUT construction,
# ADC scoring, probe pruning — SQL-expressible, so DuckDB replays it
# bit-for-bit. s11 keeps the trained-codebook production path.
# ---------------------------------------------------------------------------

S15_NLIST = 8  # IVF cells: centroid c = raw embedding of vec_id c
S15_NPROBE = 3
S15_M = 8  # PQ subspaces
S15_DSUB = EMBEDDING_DIM // S15_M
S15_KCODES = 16  # codes per subspace: entry k = unit subvector of vec_id k


# Shared IVFADC CTE chain (fixed centroids/codebooks -> assign ->
# encode -> probe -> LUT -> ADC scores): s15 ranks it directly; s17
# reuses it as the retrieve stage under an exact-cosine rerank.
_S15_ADC_CTES = f"""
    WITH base AS (
        SELECT vec_id, {_SQL_NORM_E} AS nrm, embedding FROM embeddings
    ),
    units AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u
        FROM base
    ),
    cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
              WHERE vec_id < {S15_NLIST}),
    dists AS (
        SELECT e.vec_id, c.cell,
               list_reduce(list_transform(generate_series(1, {EMBEDDING_DIM}),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE))
                        * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE))),
                   (x,y) -> x+y) AS d
        FROM embeddings e CROSS JOIN cents c
    ),
    ranked_cells AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM dists
    ),
    assigned AS (SELECT vec_id, cell FROM ranked_cells WHERE rn = 1),
    sub AS (
        SELECT vec_id, m, u[m*{S15_DSUB}+1 : m*{S15_DSUB}+{S15_DSUB}] AS sv
        FROM units, range(0, {S15_M}) t(m)
    ),
    cb AS (SELECT vec_id AS code, m, sv AS cv FROM sub WHERE vec_id < {S15_KCODES}),
    encd AS (
        SELECT s.vec_id, s.m, cb.code,
               list_reduce(list_transform(generate_series(1, {S15_DSUB}),
                   i -> (s.sv[i] - cb.cv[i]) * (s.sv[i] - cb.cv[i])),
                   (x,y) -> x+y) AS d
        FROM sub s JOIN cb ON s.m = cb.m
    ),
    enc AS (
        SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
            FROM encd) ranked WHERE rn = 1
    ),
    probes AS (SELECT vec_id AS q_id, cell FROM ranked_cells
               WHERE vec_id < {N_QUERY_VECS} AND rn <= {S15_NPROBE}),
    lut AS (
        SELECT vec_id AS q_id, m, code, CAST(FLOOR(d * {_Q} + 0.5) AS BIGINT) AS dq
        FROM encd WHERE vec_id < {N_QUERY_VECS}
    ),
    adc AS (
        SELECT p.q_id, a.vec_id AS c_id, SUM(dq) AS ai
        FROM probes p
        JOIN assigned a ON a.cell = p.cell
        JOIN enc ON enc.vec_id = a.vec_id
        JOIN lut ON lut.q_id = p.q_id AND lut.m = enc.m AND lut.code = enc.code
        WHERE a.vec_id <> p.q_id
        GROUP BY p.q_id, a.vec_id
    )
"""


@query(
    "s15_portable_ivfpq_topk",
    oracle=f"""
{_S15_ADC_CTES}
    SELECT q_id, c_id, CAST(ai AS DOUBLE) / {_Q} AS adc, CAST(rn AS INTEGER) AS rn
    FROM (SELECT q_id, c_id, ai,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ai, c_id) AS rn
          FROM adc) ranked
    WHERE rn <= {TOP_K}
    """,
    doc=f"Hash-checked twin of the s11 IVF-PQ pipeline (Jégou et al. "
    f"2011 IVFADC): {S15_NLIST} FIXED centroids (raw embeddings of the "
    f"first vectors — the d12 move, no Lloyd refinement) and {S15_M}×"
    f"{S15_KCODES} FIXED codebooks (unit subvectors of the first "
    f"{S15_KCODES} vectors), so cell assignment, per-subspace argmin "
    "encoding, the probe LUT, and ADC ranking are all exact joins "
    "DuckDB replays. Per-(m,code) LUT distances are quantized to 1e-6 "
    "integers BEFORE the ADC sum, making the score order-independent "
    "and the ranking engine-identical. Scale shape is s11's: centroids "
    "and codebooks broadcast, the encode is a map-side join, and a "
    f"probe touches only its {S15_NPROBE}/{S15_NLIST} cells via the "
    "cell equi-join — never a cross join against the corpus. s11 stays "
    "the production path (trained codebooks, exact re-rank); this twin "
    "pins the shared IVFADC machinery under the oracle hash gate.",
)
def s15_portable_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    adc = _ivfpq_adc(spark, sf_dir)
    return (
        adc.withColumn(
            "rn", F.row_number().over(W.partitionBy("q_id").orderBy("ai", "c_id"))
        )
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", (F.col("ai").cast("double") / _Q).alias("adc"), "rn")
    )


def _pq_encd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared PQ encode-distance stage (s15/s17/s19): unit-normalize,
    split into S15_M subspaces, join each subvector against the fixed
    codebook — returns (vec_id, m, code, d) with d the exact squared
    distance to that codebook entry.

    r12 (guide §2.4): rides the scratch-parquet frame tier — every
    consumer (s15/s17/s19/s21/s22, usually from TWO subtrees each:
    the argmin encode and the probe LUT) previously re-derived the
    whole subspace-join stage from the single-split embeddings scan.
    Fanned out, built once per process, narrow reload after any
    clearCache — the 'encoded vectors table' a production IVFADC
    serving path reads, never recomputes per query."""
    e_raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return tier(lambda e: _pq_encd_build(fan_out(e)), e_raw)


def _pq_encd_build(e: DataFrame) -> DataFrame:
    units = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x.cast("double") / l2_norm(F.col("embedding"))
        ).alias("u"),
    )
    sub = units.select(
        "vec_id", F.explode(F.sequence(F.lit(0), F.lit(S15_M - 1))).alias("m"), "u"
    ).select(
        "vec_id", "m", F.slice("u", F.col("m") * S15_DSUB + 1, S15_DSUB).alias("sv")
    )
    cb = sub.filter(F.col("vec_id") < S15_KCODES).select(
        F.col("vec_id").alias("code"), "m", F.col("sv").alias("cv")
    )
    sqd_sub = F.aggregate(
        F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return sub.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "code", sqd_sub.alias("d")
    )


def _ivf_ranked_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared IVF coarse-quantizer stage (s15/s17/s20): distance of
    every vector to the fixed centroids, ranked per vector — returns
    (vec_id, cell, d, rn); rn=1 is the cell assignment, rn<=nprobe the
    probe list.

    r12 (guide §2.4): same scratch-tier treatment as ``_pq_encd`` —
    the centroid-distance crossJoin ran on ONE task (single-split
    scan) once per consuming subtree (cell assignment + probe list =
    2x per query). Built once per process, fanned out."""
    e_raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return tier(lambda e: _ivf_ranked_cells_build(fan_out(e)), e_raw)


def _ivf_ranked_cells_build(e: DataFrame) -> DataFrame:
    cents = e.filter(F.col("vec_id") < S15_NLIST).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    sqd_full = F.aggregate(
        F.zip_with(
            "embedding",
            "c_emb",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = e.crossJoin(F.broadcast(cents)).select("vec_id", "cell", sqd_full.alias("d"))
    return dists.withColumn(
        "rn", F.row_number().over(W.partitionBy("vec_id").orderBy("d", "cell"))
    )


def _ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared IVFADC retrieve stage behind s15/s17: fixed
    centroids/codebooks, cell assignment, subspace argmin encode,
    probe LUT, quantized ADC scores — returns (q_id, c_id, ai)."""
    ranked_cells = _ivf_ranked_cells(spark, sf_dir)
    assigned = ranked_cells.filter(F.col("rn") == 1).select("vec_id", "cell")
    encd = _pq_encd(spark, sf_dir)
    enc = (
        encd.withColumn(
            "rn", F.row_number().over(W.partitionBy("vec_id", "m").orderBy("d", "code"))
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )
    probes = ranked_cells.filter(
        (F.col("vec_id") < N_QUERY_VECS) & (F.col("rn") <= S15_NPROBE)
    ).select(F.col("vec_id").alias("q_id"), "cell")
    lut = encd.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), "m", "code", quantized(F.col("d")).alias("dq")
    )
    adc = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(enc, "vec_id")
        .join(F.broadcast(lut), ["q_id", "m", "code"])
        .select("q_id", F.col("vec_id").alias("c_id"), "dq")
        .groupBy("q_id", "c_id")
        .agg(F.sum("dq").alias("ai"))
    )
    return adc


# ---------------------------------------------------------------------------
# s16 — the nprobe operating curve: recall@k and scan fraction per
# probe width, the measurement that SIZES an IVF deployment (how many
# cells must a query touch before recall plateaus?)
# ---------------------------------------------------------------------------

S16_NPROBES = (1, 2, 4, 8)


@query(
    "s16_nprobe_recall_curve",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                   WHERE vec_id < {S15_NLIST}),
    dists AS (
        SELECT e.vec_id, c.cell,
               list_reduce(list_transform(generate_series(1, {EMBEDDING_DIM}),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE))
                        * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE))),
                   (x,y) -> x+y) AS d
        FROM embeddings e CROSS JOIN cents c
    ),
    ranked_cells AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM dists
    ),
    assigned AS (SELECT vec_id, cell FROM ranked_cells WHERE rn = 1),
    cell_sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS sz FROM assigned GROUP BY cell),
    n_total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    nps AS (SELECT unnest([{", ".join(str(p) for p in S16_NPROBES)}]) AS np),
    probes AS (
        SELECT np, r.vec_id AS q_id, r.cell
        FROM ranked_cells r CROSS JOIN nps
        WHERE r.vec_id < {N_QUERY_VECS} AND r.rn <= np
    ),
    pairs AS (
        SELECT q.vec_id AS q_id, a.vec_id AS c_id, a.cell,
               {_sql_dot_prefix("q.embedding", "c.embedding", EMBEDDING_DIM)}
                 / ({_sql_norm_prefix("q.embedding", EMBEDDING_DIM)}
                    * {_sql_norm_prefix("c.embedding", EMBEDDING_DIM)}) AS cos_sim
        FROM embeddings q
        JOIN assigned a ON a.vec_id <> q.vec_id
        JOIN embeddings c ON c.vec_id = a.vec_id
        WHERE q.vec_id < {N_QUERY_VECS}
    ),
    exact AS (
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim DESC, c_id) AS rn
            FROM pairs) t WHERE rn <= {TOP_K}
    ),
    ivf AS (
        SELECT np, q_id, c_id FROM (
            SELECT p.np, pr.q_id, pr.c_id,
                   ROW_NUMBER() OVER (PARTITION BY p.np, pr.q_id
                                      ORDER BY pr.cos_sim DESC, pr.c_id) AS rn
            FROM pairs pr JOIN probes p ON p.q_id = pr.q_id AND p.cell = pr.cell
        ) t WHERE rn <= {TOP_K}
    ),
    hits AS (
        SELECT i.np, i.q_id, CAST(COUNT(e.c_id) AS BIGINT) AS n_hit
        FROM ivf i LEFT JOIN exact e ON e.q_id = i.q_id AND e.c_id = i.c_id
        GROUP BY i.np, i.q_id
    ),
    scanned AS (
        SELECT np, q_id, CAST(SUM(sz) AS BIGINT) AS n_scanned
        FROM probes JOIN cell_sizes USING (cell)
        GROUP BY np, q_id
    )
    SELECT h.np,
           CAST(SUM(h.n_hit) AS BIGINT) AS n_hits,
           {sql_fround(f"CAST(SUM(h.n_hit) AS DOUBLE) / ({N_QUERY_VECS} * {TOP_K})", 6)}
             AS recall_at_k,
           {sql_fround("CAST(SUM(s.n_scanned) AS DOUBLE) / (SELECT n FROM n_total)"
                       f" / {N_QUERY_VECS}", 6)} AS scan_fraction
    FROM hits h JOIN scanned s ON s.np = h.np AND s.q_id = h.q_id
    GROUP BY h.np
    """,
    doc=f"The IVF OPERATING CURVE: for nprobe in {S16_NPROBES}, recall@"
    f"{TOP_K} of the fixed-centroid cell index (s15's {S15_NLIST} "
    "first-vector centroids) against the exact cosine ranking, beside "
    "the fraction of the corpus each probe width actually scans — the "
    "two numbers that pick nprobe for a deployment (stop widening when "
    "recall plateaus; scan_fraction is the cost you pay). Every stage "
    "is an equi-join or window over deterministic distances, so the "
    "whole sweep is hash-checked; the s05/s11 trained-centroid paths "
    "keep differential recall tests as the production measurement. "
    "Scale shape: the per-np candidate work is the probed-cell join "
    "(never the corpus cross product), and the curve rolls up to "
    f"len(S16_NPROBES) rows.",
)
def s16_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = e.filter(F.col("vec_id") < S15_NLIST).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    sqd = F.aggregate(
        F.zip_with(
            "embedding",
            "c_emb",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ranked_cells = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "cell", sqd.alias("d"))
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("vec_id").orderBy("d", "cell"))
        )
    )
    assigned = ranked_cells.filter(F.col("rn") == 1).select("vec_id", "cell")
    cell_sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("sz"))
    # corpus size rides as a broadcast 1-row frame — plan builders stay
    # lazy (no bare actions; the m08 round-7 ADVICE applied everywhere)
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("_nt"))
    nps = spark.createDataFrame([(p,) for p in S16_NPROBES], "np int")
    probes = (
        ranked_cells.filter(F.col("vec_id") < N_QUERY_VECS)
        .crossJoin(F.broadcast(nps))
        .filter(F.col("rn") <= F.col("np"))
        .select("np", F.col("vec_id").alias("q_id"), "cell")
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cand = assigned.join(
        e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")),
        F.col("vec_id") == F.col("c_id"),
    ).select("c_id", "cell", "c_emb")
    pairs = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            "cell",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb")))
            ).alias("cos_sim"),
        )
    )
    exact = (
        pairs.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id")
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", F.lit(1).alias("_hit"))
    )
    ivf = (
        pairs.join(F.broadcast(probes), ["q_id", "cell"])
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("np", "q_id").orderBy(F.col("cos_sim").desc(), "c_id")
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("np", "q_id", "c_id")
    )
    hits = (
        ivf.join(exact, ["q_id", "c_id"], "left")
        .groupBy("np", "q_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hit"))
    )
    scanned = (
        probes.join(F.broadcast(cell_sizes), "cell")
        .groupBy("np", "q_id")
        .agg(F.sum("sz").cast("bigint").alias("n_scanned"))
    )
    return (
        hits.join(scanned, ["np", "q_id"])
        .groupBy("np")
        .agg(
            F.sum("n_hit").cast("bigint").alias("n_hits"),
            fround(
                F.sum("n_hit").cast("double") / F.lit(float(N_QUERY_VECS * TOP_K)), 6
            ).alias("recall_at_k"),
            F.sum("n_scanned").alias("_ns"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "np",
            "n_hits",
            "recall_at_k",
            fround(
                F.col("_ns").cast("double")
                / F.col("_nt").cast("double")
                / F.lit(float(N_QUERY_VECS)),
                6,
            ).alias("scan_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# s17 — retrieve-then-rerank: ADC shortlist -> exact-cosine rerank
# (round 7; the production two-stage ANN serving pattern)
# ---------------------------------------------------------------------------

S17_SHORTLIST = 50  # ADC candidates per query fed to the exact rerank


@query(
    "s17_rerank_shortlist",
    oracle=f"""{_S15_ADC_CTES},
    shortlist AS (
        SELECT q_id, c_id, rn_adc FROM (
            SELECT q_id, c_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ai, c_id)
                       AS rn_adc
            FROM adc) r
        WHERE rn_adc <= {S17_SHORTLIST}
    ),
    rerank AS (
        SELECT s.q_id, s.c_id, s.rn_adc,
               {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos_sim
        FROM shortlist s
        JOIN (SELECT vec_id, embedding AS q_emb FROM embeddings) q
          ON q.vec_id = s.q_id
        JOIN (SELECT vec_id, embedding AS c_emb FROM embeddings) c
          ON c.vec_id = s.c_id
    )
    SELECT q_id, c_id, {sql_fround("cos_sim", 6)} AS cos_sim,
           CAST(rn AS INTEGER) AS rn, CAST(rn_adc AS INTEGER) AS adc_rank
    FROM (SELECT q_id, c_id, cos_sim, rn_adc,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id)
                     AS rn
          FROM rerank) ranked
    WHERE rn <= {TOP_K}
    """,
    doc="Retrieve-then-rerank — THE production two-stage ANN serving "
    f"pattern: the IVFADC stage (s15's machinery, shared code) pulls a "
    f"{S17_SHORTLIST}-candidate shortlist per query from the probed "
    "cells on compressed codes alone, then ONLY those candidates pay "
    "the full-precision cosine (the left-fold dot both engines "
    "replay bit-identically), and the top-5 is re-cut on the exact "
    "score. The output carries each hit's shortlist position "
    "(adc_rank) next to its final rank, making the rank movement the "
    "rerank buys — the reason two-stage serving exists — visible and "
    "hash-checked. Scale: the expensive exact scoring touches "
    f"queries×{S17_SHORTLIST} rows however big the corpus; the "
    "shortlist join back to raw embeddings is an equi-join on vec_id "
    "(at cluster scale a broadcast of the shortlist against the "
    "vector table's bucketed layout).",
)
def s17_rerank_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    adc = _ivfpq_adc(spark, sf_dir)
    shortlist = (
        adc.withColumn(
            "rn_adc", F.row_number().over(W.partitionBy("q_id").orderBy("ai", "c_id"))
        )
        .filter(F.col("rn_adc") <= S17_SHORTLIST)
        .select("q_id", "c_id", "rn_adc")
    )
    joined = shortlist.join(
        e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")),
        "q_id",
    ).join(
        e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")),
        "c_id",
    )
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    ranked = joined.select("q_id", "c_id", "rn_adc", cos.alias("cos_sim")).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id")
        ),
    )
    return ranked.filter(F.col("rn") <= TOP_K).select(
        "q_id",
        "c_id",
        fround(F.col("cos_sim"), 6).alias("cos_sim"),
        "rn",
        F.col("rn_adc").alias("adc_rank"),
    )


# ---------------------------------------------------------------------------
# s18 — recall audit of the two-stage rerank (round 7; closes s17's loop)
# ---------------------------------------------------------------------------


@query(
    "s18_rerank_recall",
    oracle=f"""{_S15_ADC_CTES},
    shortlist AS (
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ai, c_id)
                       AS rn_adc
            FROM adc) r
        WHERE rn_adc <= {S17_SHORTLIST}
    ),
    truth AS (
        SELECT q_id, c_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_reduce(list_transform(
                               generate_series(1, {EMBEDDING_DIM}),
                               i -> CAST(q.embedding[i] AS DOUBLE)
                                    * CAST(c.embedding[i] AS DOUBLE)),
                               (a,b) -> a+b)
                           / ({_sql_norm("q.embedding")} * {_sql_norm("c.embedding")})
                           DESC,
                           c.vec_id) AS rn
            FROM embeddings q CROSS JOIN embeddings c
            WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
        ) t WHERE rn <= {TOP_K}
    )
    SELECT t.q_id,
           CAST(COUNT(s.c_id) AS BIGINT) AS n_found,
           {sql_fround(f"CAST(COUNT(s.c_id) AS DOUBLE) / {TOP_K}", 6)}
               AS recall_at_{TOP_K}
    FROM truth t LEFT JOIN shortlist s
      ON s.q_id = t.q_id AND s.c_id = t.c_id
    GROUP BY t.q_id
    """,
    doc=f"Recall audit of the two-stage serving path: does s17's "
    f"{S17_SHORTLIST}-candidate ADC shortlist contain the TRUE "
    f"exact-cosine top-{TOP_K} for each query? Reported per query as "
    "n_found and recall — the number that decides whether the "
    "shortlist width (and s16's probe width) is large enough, closing "
    "the s15→s17 family the way d07/s06 audit their ANN stages. The "
    "truth ranking is the exact cosine DESC — the identical left-fold "
    "arithmetic in both engines — with vec_id ties broken the same "
    "way on both sides. Scale: the truth side is "
    "the s02 brute-force baseline (probe-set-sized broadcast cross "
    "join — an AUDIT, not the serving path); the shortlist side is "
    "s15's bounded cell probes.",
)
def s18_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    adc = _ivfpq_adc(spark, sf_dir)
    shortlist = (
        adc.withColumn(
            "rn_adc", F.row_number().over(W.partitionBy("q_id").orderBy("ai", "c_id"))
        )
        .filter(F.col("rn_adc") <= S17_SHORTLIST)
        .select("q_id", "c_id")
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    truth = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cos.alias("cos_sim"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id")
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id")
    )
    hit = shortlist.withColumn("_hit", F.lit(1))
    return (
        truth.join(hit, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count("_hit").cast("bigint").alias("n_found"),
            fround(F.count("_hit").cast("double") / TOP_K, 6).alias(
                f"recall_at_{TOP_K}"
            ),
        )
    )


# ---------------------------------------------------------------------------
# s19 — PQ codebook distortion audit (round 7; the quality dial behind
# s10/s11/s15: is the codebook actually covering the data?)
# ---------------------------------------------------------------------------


@query(
    "s19_pq_distortion",
    oracle=f"""
{_S15_ADC_CTES},
    chosen AS (
        SELECT enc.vec_id, enc.m, enc.code, encd.d
        FROM enc JOIN encd ON encd.vec_id = enc.vec_id
                          AND encd.m = enc.m AND encd.code = enc.code
    ),
    cc AS (
        SELECT m, code, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(FLOOR(d * {_Q} + 0.5) AS BIGINT)) AS BIGINT) AS qd
        FROM chosen GROUP BY m, code
    )
    SELECT CAST(m AS INTEGER) AS m,
           CAST(SUM(cnt) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) AS BIGINT) AS codes_used,
           {sql_fround("CAST(MAX(cnt) AS DOUBLE) / SUM(cnt)", 6)} AS top_code_share,
           {sql_fround(f"CAST(SUM(qd) AS DOUBLE) / {_Q} / SUM(cnt)", 6)} AS avg_sqdist
    FROM cc GROUP BY m
    """,
    doc=f"Per-subspace PQ codebook audit over the shared s15 encode "
    "stage: mean squared quantization distortion (the loss the ADC "
    "approximation pays — Jégou et al. 2011 §III sizes codebooks by "
    f"exactly this number), how many of the {S15_KCODES} codes the "
    "data actually uses, and the hottest code's assignment share "
    "(a code soaking up most vectors means the codebook under-covers "
    f"that subspace and ADC scores lose discrimination there). "
    "Per-vector distortions are 1e-6-quantized BIGINTs before the "
    "per-code sums (order-independent), counts and ratios are exact "
    "integers, so the whole audit is engine-identical. Scale: the "
    "encode is a broadcast codebook join (s15's shape), the audit "
    f"itself aggregates to (m,code) grain — {S15_M}x{S15_KCODES} rows "
    f"— then to the {S15_M}-row report; nothing in the plan grows "
    "faster than the corpus scan.",
)
def s19_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    encd = _pq_encd(spark, sf_dir)
    chosen = (
        encd.withColumn(
            "rn", F.row_number().over(W.partitionBy("vec_id", "m").orderBy("d", "code"))
        )
        .filter(F.col("rn") == 1)
        .select("m", "code", quantized(F.col("d")).alias("dq"))
    )
    cc = chosen.groupBy("m", "code").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("dq").cast("bigint").alias("qd"),
    )
    return cc.groupBy(F.col("m").cast("int").alias("m")).agg(
        F.sum("cnt").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("codes_used"),
        fround(F.max("cnt").cast("double") / F.sum("cnt"), 6).alias("top_code_share"),
        fround(F.sum("qd").cast("double") / _Q / F.sum("cnt"), 6).alias("avg_sqdist"),
    )


# ---------------------------------------------------------------------------
# s20 — IVF cell-balance audit (round 7; the other quality dial behind
# s05/s11/s15: is the coarse quantizer spreading the data?)
# ---------------------------------------------------------------------------


@query(
    "s20_ivf_balance",
    oracle=f"""
{_S15_ADC_CTES},
    sizes AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM assigned GROUP BY cell
    ),
    tot AS (
        SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM sizes
    )
    SELECT CAST(cell AS BIGINT) AS cell, n_vecs,
           {sql_fround("CAST(n_vecs AS DOUBLE) / total", 6)} AS share,
           {sql_fround(
               "CAST(n_vecs AS DOUBLE) * n_cells / total", 4
           )} AS load_factor
    FROM sizes CROSS JOIN tot
    """,
    doc=f"Occupancy audit of the IVF coarse quantizer behind s05/s11/"
    f"s15: vectors per cell, each cell's share of the corpus, and its "
    "load factor vs the uniform ideal (1.0 = perfectly balanced; a "
    "cell at 3x means probing it costs 3x the average and nprobe "
    "recall curves like s16's lose their meaning — cell balance is "
    "THE operational dial an IVF index is re-trained on, Jégou et "
    "al. 2011 §V). Rides the shared `_ivf_ranked_cells` stage "
    "(broadcast fixed centroids, per-vector argmin window) and "
    "collapses to the {S15_NLIST}-row cell grain; counts and ratios "
    "are exact integers and single divisions — engine-identical. "
    "Scale: the assignment is the same corpus-scan shape the index "
    "build itself pays; the audit aggregates to nlist rows, so "
    "nothing downstream grows with the corpus.",
)
def s20_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = _ivf_ranked_cells(spark, sf_dir).filter(F.col("rn") == 1).select(
        "vec_id", "cell"
    )
    sizes = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    tot = sizes.agg(
        F.sum("n_vecs").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    dn = F.col("n_vecs").cast("double")
    return sizes.crossJoin(F.broadcast(tot)).select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_vecs",
        fround(dn / F.col("total"), 6).alias("share"),
        fround(dn * F.col("n_cells") / F.col("total"), 4).alias("load_factor"),
    )


# ---------------------------------------------------------------------------
# s21 — ADC-vs-exact rank agreement (round 7; HOW well-ordered is the
# compressed shortlist, not just whether the top-k survives)
# ---------------------------------------------------------------------------


@query(
    "s21_adc_rank_correlation",
    oracle=f"""{_S15_ADC_CTES},
    shortlist AS (
        SELECT q_id, c_id, rn_adc FROM (
            SELECT q_id, c_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ai, c_id)
                       AS rn_adc
            FROM adc) r
        WHERE rn_adc <= {S17_SHORTLIST}
    ),
    rerank AS (
        SELECT s.q_id, s.c_id, s.rn_adc,
               {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos_sim
        FROM shortlist s
        JOIN (SELECT vec_id, embedding AS q_emb FROM embeddings) q
          ON q.vec_id = s.q_id
        JOIN (SELECT vec_id, embedding AS c_emb FROM embeddings) c
          ON c.vec_id = s.c_id
    ),
    both_ranked AS (
        SELECT q_id, rn_adc,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id)
                   AS rn_exact
        FROM rerank
    ),
    m AS (
        SELECT q_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((rn_adc - rn_exact) * (rn_adc - rn_exact)) AS BIGINT)
                   AS sd2,
               CAST(SUM(CASE WHEN rn_adc = 1 AND rn_exact = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS top1
        FROM both_ranked GROUP BY q_id
    )
    SELECT q_id,
           n AS n_candidates,
           {sql_fround(
               "1.0 - 6.0 * sd2 / (CAST(n AS DOUBLE) * (CAST(n AS BIGINT)"
               " * n - 1))",
               6,
           )} AS spearman_rho,
           CAST(top1 AS INTEGER) AS top1_agree
    FROM m
    """,
    doc="Rank-agreement audit of the compressed stage: Spearman's rho "
    "between each query's ADC ordering and the exact-cosine ordering "
    "over the SAME shortlist, plus whether the two stages agree on "
    "the single best hit. s18 reports whether the true top-k SURVIVES "
    "the shortlist; this reports how well-ORDERED the shortlist "
    "already is — the dial that sizes the rerank budget (rho near 1 "
    "means a smaller shortlist suffices; low rho with high recall "
    "means ADC finds but cannot sort, so rerank more). Both rank "
    "columns are deterministic integer ROW_NUMBERs (ADC scores are "
    "exact quantized BIGINTs with c_id tie-break; exact cosines are "
    "bit-identical fold sums), so Spearman's 1 - 6*sum(d^2)/(n(n^2-1)) "
    "runs on EXACT integers into one closing division — "
    "engine-identical. Scale: everything downstream of the shared ADC "
    f"stage lives on queries x {S17_SHORTLIST} rows.",
)
def s21_adc_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    adc = _ivfpq_adc(spark, sf_dir)
    shortlist = (
        adc.withColumn(
            "rn_adc", F.row_number().over(W.partitionBy("q_id").orderBy("ai", "c_id"))
        )
        .filter(F.col("rn_adc") <= S17_SHORTLIST)
        .select("q_id", "c_id", "rn_adc")
    )
    joined = shortlist.join(
        e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")),
        "q_id",
    ).join(
        e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")),
        "c_id",
    )
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    both = joined.select("q_id", "c_id", "rn_adc", cos.alias("cos_sim")).withColumn(
        "rn_exact",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id")
        ),
    )
    d = F.col("rn_adc") - F.col("rn_exact")
    m = both.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d * d).cast("bigint").alias("sd2"),
        F.sum(
            F.when((F.col("rn_adc") == 1) & (F.col("rn_exact") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("top1"),
    )
    dn = F.col("n").cast("double")
    return m.select(
        "q_id",
        F.col("n").alias("n_candidates"),
        fround(
            1.0 - 6.0 * F.col("sd2") / (dn * (F.col("n") * F.col("n") - 1)), 6
        ).alias("spearman_rho"),
        F.col("top1").cast("int").alias("top1_agree"),
    )


# ---------------------------------------------------------------------------
# s22 — the ANN OPERATING FRONTIER (round 8): s16 swept nprobe alone
# and s18 audited one shortlist width; s22 sweeps the (nprobe,
# shortlist) grid TOGETHER and flags the Pareto-optimal operating
# points — the capacity-planning table an ANN deployment reads before
# picking its two knobs
# ---------------------------------------------------------------------------

S22_NPROBES = (1, 2, 4)
S22_SHORTLISTS = (10, 25, 50)

_S22_PREFIX = _S15_ADC_CTES.split("    probes AS (")[0].rstrip().rstrip(",")


@query(
    "s22_ann_frontier",
    oracle=f"""{_S22_PREFIX},
    nps AS (SELECT unnest([{", ".join(str(p) for p in S22_NPROBES)}]) AS np),
    probes AS (
        SELECT np, vec_id AS q_id, cell
        FROM ranked_cells CROSS JOIN nps
        WHERE vec_id < {N_QUERY_VECS} AND rn <= np
    ),
    lut AS (
        SELECT vec_id AS q_id, m, code, CAST(FLOOR(d * {_Q} + 0.5) AS BIGINT) AS dq
        FROM encd WHERE vec_id < {N_QUERY_VECS}
    ),
    adc AS (
        SELECT p.np, p.q_id, a.vec_id AS c_id, SUM(dq) AS ai
        FROM probes p
        JOIN assigned a ON a.cell = p.cell
        JOIN enc ON enc.vec_id = a.vec_id
        JOIN lut ON lut.q_id = p.q_id AND lut.m = enc.m AND lut.code = enc.code
        WHERE a.vec_id <> p.q_id
        GROUP BY 1, 2, 3
    ),
    rankd AS (
        SELECT np, q_id, c_id, ai,
               ROW_NUMBER() OVER (PARTITION BY np, q_id ORDER BY ai, c_id)
                   AS rn_adc,
               COUNT(*) OVER (PARTITION BY np, q_id) AS n_scored
        FROM adc
    ),
    truth AS (
        SELECT q_id, c_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_reduce(list_transform(
                               generate_series(1, {EMBEDDING_DIM}),
                               i -> CAST(q.embedding[i] AS DOUBLE)
                                    * CAST(c.embedding[i] AS DOUBLE)),
                               (a,b) -> a+b)
                           / ({_sql_norm("q.embedding")} * {_sql_norm("c.embedding")})
                           DESC,
                           c.vec_id) AS rn
            FROM embeddings q CROSS JOIN embeddings c
            WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
        ) t WHERE rn <= {TOP_K}
    ),
    kss AS (SELECT unnest([{", ".join(str(k) for k in S22_SHORTLISTS)}]) AS ks),
    cells AS (
        SELECT r.np, k.ks, r.q_id,
               MAX(r.n_scored) AS n_scored,
               CAST(SUM(CASE WHEN r.rn_adc <= k.ks AND t.c_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS found
        FROM rankd r CROSS JOIN kss k
        LEFT JOIN truth t ON t.q_id = r.q_id AND t.c_id = r.c_id
        GROUP BY 1, 2, 3
    ),
    agg AS (
        SELECT np, ks,
               CAST(COUNT(*) AS BIGINT) AS n_q,
               CAST(SUM(found) AS BIGINT) AS sum_found,
               CAST(SUM(n_scored) AS BIGINT) AS total_scored,
               CAST(SUM(LEAST(ks, n_scored)) AS BIGINT) AS total_reranked
        FROM cells GROUP BY 1, 2
    ),
    dom AS (
        SELECT DISTINCT a.np, a.ks
        FROM agg a JOIN agg b ON NOT (a.np = b.np AND a.ks = b.ks)
        WHERE (b.sum_found >= a.sum_found
               AND b.total_scored + b.total_reranked
                   < a.total_scored + a.total_reranked)
           OR (b.sum_found > a.sum_found
               AND b.total_scored + b.total_reranked
                   <= a.total_scored + a.total_reranked)
    )
    SELECT agg.np AS nprobe, agg.ks AS shortlist_k,
           {sql_fround(f"CAST(sum_found AS DOUBLE) / ({TOP_K} * n_q)", 6)}
               AS mean_recall,
           total_scored, total_reranked,
           (dom.np IS NULL) AS pareto_optimal
    FROM agg LEFT JOIN dom ON dom.np = agg.np AND dom.ks = agg.ks
    """,
    doc="ANN OPERATING FRONTIER: the (nprobe, shortlist) grid of the "
    "two-stage IVFADC+rerank serving path, each cell reporting mean "
    f"recall@{TOP_K} against the exact-cosine truth plus its two cost "
    "integers (candidates ADC-scored; candidates exactly reranked), "
    "with Pareto-dominated cells flagged — a config is kept iff no "
    "other achieves >= recall at < cost (Jégou et al. 2011 §V's "
    "operating-point analysis made a table). Recall numerators, cost "
    "totals, and the dominance test are ALL exact int64 (found counts "
    "and candidate counts), so both engines flag identical frontiers "
    "— no float comparison decides anything. Rides the shared "
    "_S15_ADC_CTES machinery (same fixed centroids/codebooks/LUT); "
    "the truth side is the s18 brute-force audit join, probe-set-"
    "bounded. Scale: the grid multiplies probe-set work by "
    f"{len(S22_NPROBES) * len(S22_SHORTLISTS)} cells, never corpus "
    "work; all joins are cell/code equi-joins.",
)
def s22_ann_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ranked_cells = _ivf_ranked_cells(spark, sf_dir)
    assigned = ranked_cells.filter(F.col("rn") == 1).select("vec_id", "cell")
    encd = _pq_encd(spark, sf_dir)
    enc = (
        encd.withColumn(
            "rn", F.row_number().over(W.partitionBy("vec_id", "m").orderBy("d", "code"))
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )
    # grid axes as Range+explode, not createDataFrame: local rows never
    # plan the same way twice, so the frontier grid's tier entry would
    # never hit (frames.tier)
    nps = spark.range(1).select(F.explode(F.array(*map(F.lit, S22_NPROBES))).alias("np"))
    probes = (
        ranked_cells.filter(F.col("vec_id") < N_QUERY_VECS)
        .crossJoin(F.broadcast(nps))
        .filter(F.col("rn") <= F.col("np"))
        .select("np", F.col("vec_id").alias("q_id"), "cell")
    )
    lut = encd.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), "m", "code", quantized(F.col("d")).alias("dq")
    )
    adc = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(enc, "vec_id")
        .join(F.broadcast(lut), ["q_id", "m", "code"])
        .select("np", "q_id", F.col("vec_id").alias("c_id"), "dq")
        .groupBy("np", "q_id", "c_id")
        .agg(F.sum("dq").alias("ai"))
    )
    rankd = adc.select(
        "np",
        "q_id",
        "c_id",
        F.row_number()
        .over(W.partitionBy("np", "q_id").orderBy("ai", "c_id"))
        .alias("rn_adc"),
        F.count(F.lit(1)).over(W.partitionBy("np", "q_id")).alias("n_scored"),
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    truth = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cos.alias("cos_sim"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id")
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", F.lit(1).alias("_t"))
    )
    kss = spark.range(1).select(F.explode(F.array(*map(F.lit, S22_SHORTLISTS))).alias("ks"))
    cells = (
        rankd.crossJoin(F.broadcast(kss))
        .join(F.broadcast(truth), ["q_id", "c_id"], "left")
        .groupBy("np", "ks", "q_id")
        .agg(
            F.max("n_scored").alias("n_scored"),
            F.sum(
                F.when(
                    (F.col("rn_adc") <= F.col("ks")) & F.col("_t").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("found"),
        )
    )
    # r12 (guide §2.4): the 9-row frontier grid is consumed by the
    # dominance self-join (both sides) AND the final readout — a lazy
    # persist let the three subtrees race and re-run the whole ADC grid
    # pipeline each; the scratch tier materializes it exactly once.
    agg = tier(
        lambda cells: cells.groupBy("np", "ks").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_q"),
            F.sum("found").cast("bigint").alias("sum_found"),
            F.sum("n_scored").cast("bigint").alias("total_scored"),
            F.sum(F.least(F.col("ks").cast("bigint"), F.col("n_scored")))
            .cast("bigint")
            .alias("total_reranked"),
        ),
        cells,
    )
    a = agg.select(
        "np", "ks", "sum_found", (F.col("total_scored") + F.col("total_reranked")).alias("cost")
    )
    b = a.select(
        F.col("np").alias("_np2"),
        F.col("ks").alias("_ks2"),
        F.col("sum_found").alias("_sf2"),
        F.col("cost").alias("_cost2"),
    )
    dom = (
        a.join(
            F.broadcast(b),  # 9-row dominance grid: BNLJ, never cartesian
            (~((a["np"] == b["_np2"]) & (a["ks"] == b["_ks2"])))
            & (
                ((b["_sf2"] >= a["sum_found"]) & (b["_cost2"] < a["cost"]))
                | ((b["_sf2"] > a["sum_found"]) & (b["_cost2"] <= a["cost"]))
            ),
        )
        .select("np", "ks")
        .distinct()
        .withColumn("_dom", F.lit(1))
    )
    return (
        agg.join(F.broadcast(dom), ["np", "ks"], "left")
        .select(
            F.col("np").alias("nprobe"),
            F.col("ks").alias("shortlist_k"),
            fround(
                F.col("sum_found").cast("double") / (TOP_K * F.col("n_q")), 6
            ).alias("mean_recall"),
            "total_scored",
            "total_reranked",
            F.col("_dom").isNull().alias("pareto_optimal"),
        )
    )


# ---------------------------------------------------------------------------
# s23 — embedding ANISOTROPY / effective-dimension audit (round 8):
# the collapse check every embedding pipeline runs before trusting
# cosine geometry (Ethayarajh 2019; participation ratio as the
# diagonal-covariance effective dimensionality)
# ---------------------------------------------------------------------------

_S23_Q = "1000000.0"  # 1e-6 component quantization -> exact int sums


@query(
    "s23_embedding_anisotropy",
    oracle=f"""
    WITH comp AS (
        SELECT d, CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * {_S23_Q} + 0.5)
                       AS BIGINT) AS xq
        FROM embeddings,
             (SELECT unnest(generate_series(1, {EMBEDDING_DIM})) AS d) g
    ),
    m AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS BIGINT) AS s1,
               CAST(SUM(xq * xq) AS BIGINT) AS s2
        FROM comp GROUP BY d
    ),
    v AS (
        SELECT d, n, CAST(n * s2 - s1 * s1 AS BIGINT) AS vnum FROM m
    ),
    agg AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) AS BIGINT) AS n_dims,
               CAST(SUM(vnum) AS BIGINT) AS sv,
               CAST(SUM(CAST(vnum AS DECIMAL(38,0)) * vnum) AS DECIMAL(38,0))
                   AS svv,
               CAST(MAX(vnum) AS BIGINT) AS vmax
        FROM v
    )
    SELECT n_vecs, CAST(n_dims AS INTEGER) AS n_dims,
           {sql_fround(
               "CAST(sv AS DOUBLE) * sv / CAST(svv AS DOUBLE)", 4
           )} AS participation_ratio,
           {sql_fround("CAST(vmax AS DOUBLE) / sv", 6)} AS top_dim_var_share,
           CAST(sv AS DOUBLE) * sv / CAST(svv AS DOUBLE)
               < CAST(n_dims AS DOUBLE) / 2 AS anisotropic
    FROM agg
    """,
    doc="Embedding ANISOTROPY audit: per-dimension variances of the "
    "embedding components collapsed into the participation ratio "
    "PR = (sum v_d)^2 / sum v_d^2 — the diagonal-covariance effective "
    "dimensionality (PR = D for isotropic space, PR -> 1 when one "
    "direction dominates; Ethayarajh 2019's anisotropy concern made a "
    "single number), plus the hottest dimension's variance share. A "
    "collapsed space silently breaks every cosine-based stage "
    "upstream (s02-s22, d04-d08), so this is the audit to run FIRST. "
    "Components are 1e-6-quantized so every moment is an exact int64 "
    "sum (the t21 move applied to floats-at-rest); variance "
    "numerators n*S2 - S1^2 stay int64 and their squared sum rides "
    "DECIMAL(38,0) on both engines (the q90 share-squaring "
    "discipline) — two final divisions, nothing order-dependent. "
    "Scale: one narrow explode to (dim, component) grain, one "
    "64-group aggregate, one single-row fold; at 100 TB the moment "
    "partials ride the same decimal lane.",
)
def s23_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = float(_S23_Q)
    comp = e.select(
        F.posexplode("embedding").alias("d0", "x")
    ).select(
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("x").cast("double") * q + 0.5).cast("bigint").alias("xq"),
    )
    m = comp.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("s1"),
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("s2"),
    )
    v = m.select(
        "d", "n", (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("bigint").alias("vnum")
    )
    agg = v.agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.sum("vnum").cast("bigint").alias("sv"),
        F.sum(F.col("vnum").cast("decimal(38,0)") * F.col("vnum")).cast("decimal(38,0)").alias("svv"),
        F.max("vnum").cast("bigint").alias("vmax"),
    )
    pr = F.col("sv").cast("double") * F.col("sv") / F.col("svv").cast("double")
    return agg.select(
        "n_vecs",
        F.col("n_dims").cast("int").alias("n_dims"),
        fround(pr, 4).alias("participation_ratio"),
        fround(F.col("vmax").cast("double") / F.col("sv"), 6).alias("top_dim_var_share"),
        (pr < F.col("n_dims").cast("double") / 2).alias("anisotropic"),
    )


# ---------------------------------------------------------------------------
# s24 — simplified (centroid-based) silhouette per label: the standard
# cluster-quality score at embedding scale (round 8)
# ---------------------------------------------------------------------------

_S24_CQ = 10_000.0  # centroid quantization (4dp BIGINT, the s06 discipline)


@query(
    "s24_label_silhouette",
    oracle=f"""
    WITH exploded AS (
        SELECT vec_id, label, dim,
               CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * 1000000.0 + 0.5)
                   AS BIGINT) AS vq
        FROM embeddings, range(0, {EMBEDDING_DIM}) t(dim)
    ),
    centroids AS (
        SELECT label AS label_c, dim,
               CAST(FLOOR(CAST(SUM(vq) AS DOUBLE) / 1000000.0 / COUNT(*)
                   * {_S24_CQ} + 0.5) AS BIGINT) AS cq
        FROM exploded GROUP BY 1, 2
    ),
    scored AS (
        SELECT e.vec_id, e.label, c.label_c,
               CAST(SUM(e.vq * c.cq) AS DOUBLE)
                 / (sqrt(CAST(SUM(e.vq * e.vq) AS DOUBLE))
                    * sqrt(CAST(SUM(c.cq * c.cq) AS DOUBLE))) AS cos_sim
        FROM exploded e JOIN centroids c USING (dim)
        GROUP BY 1, 2, 3
    ),
    ab AS (
        SELECT vec_id, label,
               1.0 - MAX(CASE WHEN label_c = label THEN cos_sim END) AS a,
               1.0 - MAX(CASE WHEN label_c <> label THEN cos_sim END) AS b
        FROM scored GROUP BY 1, 2
    ),
    q AS (
        SELECT label,
               CAST(FLOOR((b - a) / GREATEST(a, b) * 1000000.0 + 0.5) AS BIGINT) AS silq,
               CAST(FLOOR(a * 1000000.0 + 0.5) AS BIGINT) AS aq,
               CAST(FLOOR(b * 1000000.0 + 0.5) AS BIGINT) AS bq
        FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {sql_fround("CAST(SUM(silq) AS DOUBLE) / 1000000.0 / COUNT(*)", 4)} AS mean_silhouette,
           {sql_fround("CAST(SUM(aq) AS DOUBLE) / 1000000.0 / COUNT(*)", 4)} AS mean_intra_dist,
           {sql_fround("CAST(SUM(bq) AS DOUBLE) / 1000000.0 / COUNT(*)", 4)} AS mean_nearest_other
    FROM q GROUP BY label
    """,
    doc="Simplified silhouette score per label (Hruschka et al. 2004 "
    "— the centroid-based silhouette every large-scale clustering "
    "eval uses because the classic one needs all-pairs distances): "
    "a = cosine distance to the OWN label centroid, b = distance to "
    "the nearest OTHER centroid, s = (b-a)/max(a,b). Centroids ride "
    "the s06 4dp-BIGINT quantization so every dot product is an exact "
    "integer sum; per-vector silhouettes are 1e-6-quantized before "
    "the per-label mean so summation order cannot flip the hash. "
    "Verdict on this corpus: silhouettes hover near 0 — the labels "
    "are NOT geometrically separated (consistent with s23's "
    "near-isotropic participation ratio). Scale: centroids are "
    "labels x dim rows (broadcast); scoring is one equi-join on dim "
    "with |labels| partial aggregates per vector — data x labels x "
    "dim flops, never data x data; the classic silhouette's O(n^2) "
    "never appears.",
)
def s24_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "label", "dim", quantized(F.col("v")).cast("bigint").alias("vq"))
    centroids = exploded.groupBy(F.col("label").alias("label_c"), F.col("dim")).agg(
        F.floor(
            F.sum("vq").cast("double") / _Q / F.count(F.lit(1)) * _S24_CQ + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cq")
    )
    scored = (
        exploded.join(F.broadcast(centroids), "dim")
        .groupBy("vec_id", "label", "label_c")
        .agg(
            (
                F.sum(F.col("vq") * F.col("cq")).cast("double")
                / (
                    F.sqrt(F.sum(F.col("vq") * F.col("vq")).cast("double"))
                    * F.sqrt(F.sum(F.col("cq") * F.col("cq")).cast("double"))
                )
            ).alias("cos_sim")
        )
    )
    ab = scored.groupBy("vec_id", "label").agg(
        (
            1.0 - F.max(F.when(F.col("label_c") == F.col("label"), F.col("cos_sim")))
        ).alias("a"),
        (
            1.0 - F.max(F.when(F.col("label_c") != F.col("label"), F.col("cos_sim")))
        ).alias("b"),
    )
    q6 = lambda c: F.floor(c * 1_000_000.0 + F.lit(0.5)).cast("bigint")  # noqa: E731
    q = ab.select(
        "label",
        q6((F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))).alias("silq"),
        q6(F.col("a")).alias("aq"),
        q6(F.col("b")).alias("bq"),
    )
    return q.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        fround(F.sum("silq").cast("double") / _Q / F.count(F.lit(1)), 4).alias(
            "mean_silhouette"
        ),
        fround(F.sum("aq").cast("double") / _Q / F.count(F.lit(1)), 4).alias(
            "mean_intra_dist"
        ),
        fround(F.sum("bq").cast("double") / _Q / F.count(F.lit(1)), 4).alias(
            "mean_nearest_other"
        ),
    )


# ---------------------------------------------------------------------------
# s25 — dominant principal component via two statically-unrolled power-
# iteration steps on the EXACT integer covariance (round 8): the
# "all-but-the-top" direction (Mu & Viswanath 2018)
# ---------------------------------------------------------------------------

_S25_PAIRS = EMBEDDING_DIM * EMBEDDING_DIM

# Shared WITH-prefix computing u2, the 1e-6-integer-grid dominant
# direction after two power-iteration steps. s25 reports it; s26
# projects it out and re-measures retrieval — one constant so the two
# oracles cannot drift.
_SQL_S25_CTES = f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
               ) AS qa
        FROM embeddings
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    prods AS (
        SELECT k, qa[k // {EMBEDDING_DIM} + 1] * qa[k % {EMBEDDING_DIM} + 1] AS p
        FROM q, (SELECT unnest(generate_series(0, {_S25_PAIRS - 1})) AS k)
    ),
    spp AS (SELECT k, CAST(SUM(p) AS BIGINT) AS spp FROM prods GROUP BY k),
    sums AS (
        SELECT dim, CAST(SUM(qa[dim + 1]) AS BIGINT) AS sq
        FROM q, range(0, {EMBEDDING_DIM}) t(dim)
        GROUP BY dim
    ),
    s AS (
        SELECT k // {EMBEDDING_DIM} AS i, k % {EMBEDDING_DIM} AS j,
               CAST(nn.n AS HUGEINT) * spp.spp
                 - CAST(si.sq AS HUGEINT) * sj.sq AS s
        FROM spp
        JOIN sums si ON si.dim = k // {EMBEDDING_DIM}
        JOIN sums sj ON sj.dim = k % {EMBEDDING_DIM}
        CROSS JOIN nn
    ),
    v1 AS (SELECT i, CAST(SUM(s) AS DOUBLE) AS vd FROM s GROUP BY i),
    m1 AS (SELECT MAX(ABS(vd)) AS m FROM v1),
    u1 AS (
        SELECT i, CAST(FLOOR(vd / m * 1000000.0 + 0.5) AS BIGINT) AS u
        FROM v1 CROSS JOIN m1
    ),
    v2 AS (
        SELECT s.i, CAST(SUM(s.s * CAST(u1.u AS HUGEINT)) AS DOUBLE) AS vd
        FROM s JOIN u1 ON u1.i = s.j
        GROUP BY s.i
    ),
    m2 AS (SELECT MAX(ABS(vd)) AS m FROM v2),
    u2 AS (
        SELECT i, CAST(FLOOR(vd / m * 1000000.0 + 0.5) AS BIGINT) AS u
        FROM v2 CROSS JOIN m2
    )"""


def _s25_gram(e: DataFrame) -> DataFrame:
    """The exact-integer covariance frame (i, j, s DECIMAL(38,0)) of
    ``_SQL_S25_CTES``: one data pass emitting each row's 64x64
    quantized outer product into a 4096-key map-side-combined
    aggregate, then n*Spp - Sq_i*Sq_j on broadcast dim sums."""
    q = e.select(
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint))"
        ).alias("qa")
    )
    nn = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    prods = q.select(
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_S25_PAIRS - 1}), "
                f"k -> element_at(qa, cast(k div {EMBEDDING_DIM} + 1 as int))"
                f" * element_at(qa, cast(k % {EMBEDDING_DIM} + 1 as int)))"
            )
        ).alias("k", "p")
    )
    spp = prods.groupBy("k").agg(F.sum("p").cast("bigint").alias("spp"))
    sums = (
        q.select(F.posexplode("qa").alias("dim", "qv"))
        .groupBy("dim")
        .agg(F.sum("qv").cast("bigint").alias("sq"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (
        spp.withColumn("i", F.expr(f"k div {EMBEDDING_DIM}"))
        .withColumn("j", F.expr(f"k % {EMBEDDING_DIM}"))
        .join(
            F.broadcast(sums.select(F.col("dim").alias("i"), F.col("sq").alias("sqi"))),
            "i",
        )
        .join(
            F.broadcast(sums.select(F.col("dim").alias("j"), F.col("sq").alias("sqj"))),
            "j",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (dec("n") * dec("spp") - dec("sqi") * dec("sqj")).alias("s"),
        )
    )


def _s25_renormalized(v: DataFrame) -> DataFrame:
    """(i, vd) -> (i, u bigint), renormalized to the 1e-6 grid."""
    m = v.agg(F.max(F.abs(F.col("vd"))).alias("m"))
    return v.crossJoin(F.broadcast(m)).select(
        "i",
        F.floor(F.col("vd") / F.col("m") * 1_000_000.0 + F.lit(0.5)).cast("bigint").alias("u"),
    )


def _s25_power_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Spark twin of ``_SQL_S25_CTES``: (u1, u2) frames of (i, u) — the
    1e-6-integer-grid power iterates over the exact integer covariance.

    r12 optimization (guide §1.2/§2.4): the covariance frame and both
    power iterates ride the scratch-parquet frame tier
    (frames.tier — the d18/d21/s27 pattern). Before, the
    composed s25/s26 plans consumed the lazily-persisted `s` from four
    subtrees (v1, the _step join, and the broadcast max/vec builds),
    which raced to materialize it and re-ran the 4096-per-row outer-
    product explode per subtree — measured 14.2 s for u2 after a
    clearCache at sf0.1, ~1.5 s with the build forced once. The frames
    are dim²/dim rows (4096/64) regardless of corpus size — the
    "model artifact" a production ABTT pipeline computes once per
    corpus snapshot and every consumer reads."""
    e = load_table(spark, sf_dir, "embeddings")
    # fan_out (guide §2.5 input skew): the embeddings parquet is ONE
    # small file -> one scan task, so the 4096-per-row outer-product
    # explode (the only data-proportional pass here) ran on a single
    # core. On a real multi-split table fan_out is a no-op.
    s = tier(lambda e: _s25_gram(fan_out(e)), e)

    # v1 = S . ones, renormalized (u1); v2 = S . u1, renormalized (u2).
    # Both iterates are EMBEDDING_DIM-row frames consumed from several
    # subtrees of the s25/s26 plans (join sides, broadcast ua/uu
    # builds) — tiered like `s` so each is computed once per process.
    def build_u1(s: DataFrame) -> DataFrame:
        return _s25_renormalized(s.groupBy("i").agg(F.sum("s").cast("double").alias("vd")))

    def build_u2(s: DataFrame, u1: DataFrame) -> DataFrame:
        vec = u1.select(F.col("i").alias("j"), "u")
        return _s25_renormalized(
            s.join(F.broadcast(vec), "j")
            .groupBy("i")
            .agg(F.sum(F.col("s") * F.col("u").cast("decimal(38,0)")).alias("_v"))
            .select("i", F.col("_v").cast("double").alias("vd"))
        )

    u1 = tier(build_u1, s)
    u2 = tier(build_u2, s, u1)
    return u1, u2


@query(
    "s25_top_component",
    oracle=f"""{_SQL_S25_CTES}
    SELECT CAST(u1.i AS INTEGER) AS dim,
           {sql_fround("CAST(u1.u AS DOUBLE) / 1000000.0", 6)} AS comp1,
           {sql_fround("CAST(u2.u AS DOUBLE) / 1000000.0", 6)} AS comp2
    FROM u1 JOIN u2 ON u2.i = u1.i
    """,
    doc="Dominant principal component of the embedding cloud — the "
    "direction 'all-but-the-top' post-processing removes (Mu & "
    "Viswanath 2018) and the concrete companion to s23's isotropy "
    "verdict: two power-iteration steps (v0 = all-ones) statically "
    "unrolled on the EXACT centered covariance. The data pass never "
    "shuffles vectors: each row emits its 64x64 quantized outer "
    "product via per-row HOFs and ONE 4096-key map-side-combined "
    "aggregate builds the Gram matrix; n*Spp - Sq_i*Sq_j then rides "
    "DECIMAL(38,0)/HUGEINT so the covariance is exact integer math. "
    "The iteration itself touches only the 64x64 matrix; between "
    "steps the iterate is renormalized to a 1e-6 integer grid (max-"
    "abs scaling), keeping every engine bit-identical and the decimal "
    "magnitudes bounded. comp1 vs comp2 shows the direction already "
    "stabilizing. Scale: state is dim^2 regardless of row count — "
    "the covariance pass is one scan + a 4096-row reduce; iterations "
    "are free. Near-isotropic corpus => components spread out, "
    "consistent with s23's PR of ~64/64.",
)
def s25_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    u1, u2 = _s25_power_frames(spark, sf_dir)
    return (
        u1.select("i", F.col("u").alias("_u1"))
        .join(F.broadcast(u2.select("i", F.col("u").alias("_u2"))), "i")
        .select(
            F.col("i").cast("int").alias("dim"),
            fround(F.col("_u1").cast("double") / 1_000_000.0, 6).alias("comp1"),
            fround(F.col("_u2").cast("double") / 1_000_000.0, 6).alias("comp2"),
        )
    )


# ---------------------------------------------------------------------------
# s26 — all-but-the-top retrieval shift: project out s25's dominant
# direction and re-measure top-k (round 8; s25's consumer)
# ---------------------------------------------------------------------------

_SQL_S26_VU = (
    f"list_reduce(list_transform(generate_series(1, {EMBEDDING_DIM}),"
    " i -> CAST(embedding[i] AS DOUBLE) * ua.uarr[i]), (a,b) -> a+b)"
)


@query(
    "s26_abtt_retrieval_shift",
    oracle=f"""{_SQL_S25_CTES},
    ua AS (SELECT list(CAST(u AS DOUBLE) ORDER BY i) AS uarr FROM u2),
    uu AS (
        SELECT list_reduce(list_transform(uarr, x -> x * x), (a, b) -> a + b) AS uu
        FROM ua
    ),
    vecs AS (
        SELECT vec_id, embedding,
               {_sql_norm("embedding")} AS nrm,
               {_SQL_S26_VU} AS vu
        FROM embeddings CROSS JOIN ua
    ),
    qv AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_n, vu AS q_vu
           FROM vecs WHERE vec_id < {N_QUERY_VECS}),
    cv AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_n, vu AS c_vu
           FROM vecs),
    pairs AS (
        SELECT q_id, c_id,
               {_SQL_DOT_QC} / (q_n * c_n) AS cos_orig,
               ({_SQL_DOT_QC} - q_vu * c_vu / uu.uu)
                 / (sqrt(q_n * q_n - q_vu * q_vu / uu.uu)
                    * sqrt(c_n * c_n - c_vu * c_vu / uu.uu)) AS cos_proj
        FROM qv CROSS JOIN cv CROSS JOIN uu
        WHERE q_id <> c_id
    ),
    ro AS (
        SELECT q_id, c_id, cos_orig, cos_proj,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_orig DESC, c_id) AS rn_o
        FROM pairs
    ),
    rp AS (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_proj DESC, c_id) AS rn_p
        FROM pairs
    )
    SELECT ro.q_id,
           CAST(COUNT(rp.c_id) AS BIGINT) AS n_overlap,
           CAST(SUM(CAST(FLOOR(ABS(ro.cos_orig - ro.cos_proj) * 1000000.0 + 0.5)
               AS BIGINT)) AS BIGINT) AS shift_q
    FROM ro LEFT JOIN rp
      ON rp.q_id = ro.q_id AND rp.c_id = ro.c_id AND rp.rn_p <= {TOP_K}
    WHERE ro.rn_o <= {TOP_K}
    GROUP BY ro.q_id
    """,
    doc="All-but-the-top retrieval shift — s25's consumer (Mu & "
    "Viswanath 2018 apply step): project the dominant component out "
    "of every embedding and measure how the exact cosine top-k "
    "changes (overlap with the unprojected top-k, plus the summed "
    "|cos| shift over the original neighbors, 1e-6-quantized). The "
    "projection never materializes: v'.w' = v.w - (v.u)(w.u)/(u.u) "
    "and |v'|^2 = |v|^2 - (v.u)^2/(u.u), so each vector carries just "
    "TWO extra scalars (norm, v.u) through the s02-shaped broadcast "
    "scoring pass — the identity that makes ABTT free at 100 TB "
    "(no rewritten vector column, no second store). On this "
    "near-isotropic corpus the top direction carries ~1/64 of the "
    "variance, so overlap stays high — the audit that tells you "
    "whether ABTT is worth applying before you reindex anything.",
)
def s26_abtt_retrieval_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, u2 = _s25_power_frames(spark, sf_dir)
    ua = u2.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "u"))),
            lambda x: x["u"].cast("double"),
        ).alias("uarr")
    )
    uu = ua.select(
        F.aggregate(
            F.transform("uarr", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
        ).alias("uu")
    )
    e = load_table(spark, sf_dir, "embeddings")
    vu = F.aggregate(
        F.zip_with("embedding", "uarr", lambda x, u: x.cast("double") * u),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    vecs = (
        e.crossJoin(F.broadcast(ua))
        .select(
            "vec_id",
            "embedding",
            l2_norm(F.col("embedding")).alias("nrm"),
            vu.alias("vu"),
        )
    )
    q = vecs.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_n"),
        F.col("vu").alias("q_vu"),
    )
    c = vecs.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_n"),
        F.col("vu").alias("c_vu"),
    )
    dqc = dot(F.col("q_emb"), F.col("c_emb"))
    cos_orig = dqc / (F.col("q_n") * F.col("c_n"))
    cos_proj = (dqc - F.col("q_vu") * F.col("c_vu") / F.col("uu")) / (
        F.sqrt(F.col("q_n") * F.col("q_n") - F.col("q_vu") * F.col("q_vu") / F.col("uu"))
        * F.sqrt(
            F.col("c_n") * F.col("c_n") - F.col("c_vu") * F.col("c_vu") / F.col("uu")
        )
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .crossJoin(F.broadcast(uu))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id", cos_orig.alias("cos_orig"), cos_proj.alias("cos_proj")
        )
    )
    # Single pass over `pairs`: both rankings share partitionBy(q_id), so
    # computing them on the same frame costs ONE shuffle + two sorts instead
    # of evaluating the broadcast-cross-join scoring subtree once per join
    # side (the round-10 2x regression, VERDICT r10 item #1a).
    ranked = pairs.select(
        "q_id",
        "c_id",
        "cos_orig",
        "cos_proj",
        F.row_number()
        .over(W.partitionBy("q_id").orderBy(F.col("cos_orig").desc(), "c_id"))
        .alias("rn_o"),
        F.row_number()
        .over(W.partitionBy("q_id").orderBy(F.col("cos_proj").desc(), "c_id"))
        .alias("rn_p"),
    ).filter(F.col("rn_o") <= TOP_K)
    return ranked.groupBy("q_id").agg(
        F.count(F.when(F.col("rn_p") <= TOP_K, F.lit(1)))
        .cast("bigint")
        .alias("n_overlap"),
        F.sum(
            F.floor(
                F.abs(F.col("cos_orig") - F.col("cos_proj")) * 1_000_000.0
                + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("shift_q"),
    )


# ---------------------------------------------------------------------------
# s27 — MMR diversified rerank over the exact shortlist (round 9)
# ---------------------------------------------------------------------------

_S27_SHORTLIST = 12  # exact-cosine shortlist fed to MMR
_S27_PICKS = 4  # greedy diversified picks (statically unrolled)
# lambda = 0.7 exactly, as integers: 10*MMR = 7*rel_q - 3*maxsim_q
_S27_SIM_AB = (
    f"list_reduce(list_transform(generate_series(1, {EMBEDDING_DIM}),"
    " i -> CAST(a_emb[i] AS DOUBLE) * CAST(b_emb[i] AS DOUBLE)), (x,y) -> x+y)"
    " / (sqrt(list_reduce(list_transform(generate_series(1, "
    f"{EMBEDDING_DIM}), i -> CAST(a_emb[i] AS DOUBLE) * CAST(a_emb[i] AS"
    " DOUBLE)), (x,y) -> x+y)) * sqrt(list_reduce(list_transform("
    f"generate_series(1, {EMBEDDING_DIM}), i -> CAST(b_emb[i] AS DOUBLE)"
    " * CAST(b_emb[i] AS DOUBLE)), (x,y) -> x+y)))"
)


def _s27_sql_steps() -> str:
    """Unrolled MMR steps 2..k as CTE text: each step aggregates the
    max selected-similarity per remaining candidate and argmaxes the
    integer score 7*rel_q - 3*maxsim_q (ties -> smaller c_id)."""
    steps = []
    for i in range(2, _S27_PICKS + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM sel{j}" for j in range(1, i))
        steps.append(f"""
    seen{i} AS ({prev}),
    cand{i} AS (
        SELECT s.q_id, s.c_id, s.rel_q, MAX(p.sim_q) AS maxsim_q
        FROM shortlist s
        JOIN seen{i} t ON t.q_id = s.q_id
        JOIN prs p ON p.q_id = s.q_id AND p.a_id = s.c_id AND p.b_id = t.c_id
        WHERE NOT EXISTS (SELECT 1 FROM seen{i} x
                          WHERE x.q_id = s.q_id AND x.c_id = s.c_id)
        GROUP BY 1, 2, 3
    ),
    sel{i} AS (
        SELECT q_id, c_id, rel_q, CAST({i} AS INTEGER) AS pick_rank,
               7 * rel_q - 3 * maxsim_q AS mmr10_q
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY 7 * rel_q - 3 * maxsim_q DESC, c_id) AS rn
            FROM cand{i}
        ) WHERE rn = 1
    )""")
    return ",".join(steps)


# the full MMR CTE chain through `allsel` — shared verbatim by s27's
# oracle and s29's (the consumer inherits the already-green chain)
_S27_WITH = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
    scored AS (
        SELECT q_id, c_id, c_emb,
               CAST(FLOOR({_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C})
                   * 1000000.0 + 0.5) AS BIGINT) AS rel_q
        FROM q CROSS JOIN c WHERE q_id <> c_id
    ),
    shortlist AS (
        SELECT q_id, c_id, c_emb, rel_q
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY rel_q DESC, c_id) AS rn FROM scored)
        WHERE rn <= {_S27_SHORTLIST}
    ),
    prs AS (
        SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id,
               CAST(FLOOR({_S27_SIM_AB} * 1000000.0 + 0.5) AS BIGINT) AS sim_q
        FROM (SELECT q_id, c_id, c_emb AS a_emb FROM shortlist) a
        JOIN (SELECT q_id, c_id, c_emb AS b_emb FROM shortlist) b
          ON a.q_id = b.q_id AND a.c_id <> b.c_id
    ),
    sel1 AS (
        SELECT q_id, c_id, rel_q, CAST(1 AS INTEGER) AS pick_rank,
               7 * rel_q AS mmr10_q
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY rel_q DESC, c_id) AS rn FROM shortlist)
        WHERE rn = 1
    ),{_s27_sql_steps()},
    allsel AS ({" UNION ALL ".join(f"SELECT * FROM sel{j}" for j in range(1, _S27_PICKS + 1))})"""


@query(
    "s27_mmr_rerank",
    oracle=f"""{_S27_WITH}
    SELECT q_id, pick_rank, c_id,
           CAST(rel_q AS DOUBLE) / 1000000.0 AS relevance,
           CAST(mmr10_q AS DOUBLE) / 10000000.0 AS mmr_score
    FROM allsel
    """,
    doc="Maximal Marginal Relevance rerank (Carbonell & Goldstein "
    f"1998): from each probe's exact-cosine top-{_S27_SHORTLIST} "
    f"shortlist, greedily pick {_S27_PICKS} results maximizing "
    "lambda*rel - (1-lambda)*max-sim-to-already-picked — the standard "
    "diversification pass RAG retrieval stacks run between ANN and "
    "the prompt, killing near-duplicate hits (which this corpus's "
    "cluster structure produces in quantity). lambda = 0.7 is exact "
    "INTEGER arithmetic: relevance and pairwise similarity quantize "
    "to 1e-6 once, then every MMR score is 7*rel_q - 3*maxsim_q — "
    "greedy argmax ties break on c_id, so the full trajectory is "
    "engine-deterministic (no float drift can reorder picks). The "
    f"{_S27_PICKS} greedy steps are statically unrolled (t56's "
    "pattern); every per-step frame is probes x shortlist, and the "
    "candidate-candidate similarity matrix is computed ONCE "
    f"({_S27_SHORTLIST}^2 per probe) before the loop. Scale: the "
    "data-sized stage is the one broadcast-probe scan; everything "
    "after is O(probes * shortlist^2), independent of corpus size.",
)
def s27_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, prs, selected = _s27_frames(spark, sf_dir)
    return selected.select(
        "q_id",
        "pick_rank",
        "c_id",
        (F.col("rel_q").cast("double") / 1_000_000.0).alias("relevance"),
        (F.col("mmr10_q").cast("double") / 10_000_000.0).alias("mmr_score"),
    )


def _s27_frames(spark: SparkSession, sf_dir: str):
    """Shared MMR stages: (base = the shortlist, prs = its pairwise-
    similarity matrix, selected = the greedy pick trajectory). s27
    reads the trajectory; s29 grades it against the relevance-only
    top-k on the same frames.

    Round 12: all three ride the scratch-parquet frame tier
    (frames.tier — the d18/d21 fix applied here, VERDICT r11 #3): the
    broadcast-probe scoring scan and the unrolled greedy loop execute
    ONCE per (process, corpus); a clearCache-evicted rerun reloads
    three narrow parquet frames instead of re-racing the whole
    pipeline (s29's 5x solo band read 7.1-21.3 s at sf0.1 before this
    — duplicate concurrent materialization of the shared persists
    inside one job — and ~1-2 s steady after)."""
    e = load_table(spark, sf_dir, "embeddings")
    shortlist = tier(_s27_shortlist, e)
    prs = tier(_s27_pairwise, shortlist)
    base = shortlist.select("q_id", "c_id", "rel_q")
    selected = tier(_s27_trajectory, base, prs)
    return base, prs, selected


def _s27_shortlist(e: DataFrame) -> DataFrame:
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            "c_emb",
            F.floor(cos * 1_000_000.0 + F.lit(0.5)).cast("bigint").alias("rel_q"),
        )
    )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("q_id").orderBy(F.col("rel_q").desc(), "c_id")),
        )
        .filter(F.col("rn") <= _S27_SHORTLIST)
        .drop("rn")
        # N_QUERY_VECS hash partitions on q_id: every downstream
        # window, groupBy, and join in the greedy loop clusters on
        # q_id (or a superset), so this single tiny exchange
        # replaces ~4 unrolled iterations x 3 ops worth of
        # spark.sql.shuffle.partitions-wide exchanges (measured
        # 35.8s -> ~8s at sf0.01 on a vanilla 200-partition
        # session).
        .repartition(N_QUERY_VECS, "q_id")
    )


def _s27_pairwise(shortlist: DataFrame) -> DataFrame:
    a = shortlist.select("q_id", F.col("c_id").alias("a_id"), F.col("c_emb").alias("a_emb"))
    b = shortlist.select("q_id", F.col("c_id").alias("b_id"), F.col("c_emb").alias("b_emb"))
    sim = dot(F.col("a_emb"), F.col("b_emb")) / (
        l2_norm(F.col("a_emb")) * l2_norm(F.col("b_emb"))
    )
    return (
        a.join(b, "q_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "q_id",
            "a_id",
            "b_id",
            F.floor(sim * 1_000_000.0 + F.lit(0.5)).cast("bigint").alias("sim_q"),
        )
    )


def _s27_trajectory(base: DataFrame, prs: DataFrame) -> DataFrame:
    selected = (
        base.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("q_id").orderBy(F.col("rel_q").desc(), "c_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            "c_id",
            "rel_q",
            F.lit(1).cast("int").alias("pick_rank"),
            (7 * F.col("rel_q")).alias("mmr10_q"),
        )
    )
    for i in range(2, _S27_PICKS + 1):
        # each pick (one row per probe) is a tier entry of its own, so
        # later iterations' `seen` (and the final union) read it instead
        # of re-executing every earlier pick's join+window subplan —
        # the unrolled lineage is otherwise quadratic in _S27_PICKS
        selected = selected.unionByName(tier(_s27_pick, selected, base, prs, i=i))
    return selected


def _s27_pick(selected: DataFrame, base: DataFrame, prs: DataFrame, i: int) -> DataFrame:
    seen = selected.select("q_id", F.col("c_id").alias("b_id"))
    # max similarity from each shortlist member to the selected set
    ms = (
        prs.join(F.broadcast(seen), ["q_id", "b_id"])
        .groupBy("q_id", F.col("a_id").alias("c_id"))
        .agg(F.max("sim_q").alias("maxsim_q"))
    )
    remaining = base.join(seen.withColumnRenamed("b_id", "c_id"), ["q_id", "c_id"], "left_anti")
    return (
        remaining.join(ms, ["q_id", "c_id"])
        .withColumn("score", 7 * F.col("rel_q") - 3 * F.col("maxsim_q"))
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("q_id").orderBy(F.col("score").desc(), "c_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            "c_id",
            "rel_q",
            F.lit(i).cast("int").alias("pick_rank"),
            F.col("score").alias("mmr10_q"),
        )
    )


# ---------------------------------------------------------------------------
# s28 — participation ratio: the embedding space's effective
# dimensionality from per-dimension variances (round 9)
# ---------------------------------------------------------------------------


@query(
    "s28_participation_ratio",
    oracle=f"""
    WITH dims AS (SELECT unnest(generate_series(1, {EMBEDDING_DIM})) AS dim),
    x AS (
        SELECT d.dim,
               CAST(FLOOR(CAST(e.embedding[d.dim] AS DOUBLE) * {_Q} + 0.5)
                   AS BIGINT) AS xq
        FROM embeddings e CROSS JOIN dims d
    ),
    per_dim AS (
        SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS BIGINT) AS s1,
               CAST(SUM(xq * xq) AS BIGINT) AS s2
        FROM x GROUP BY dim
    ),
    vars AS (
        SELECT dim,
               CAST(FLOOR((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)
                   * (CAST(s1 AS DOUBLE) / n)) / ({_Q} * {_Q})
                   * 1000000000.0 + 0.5) AS BIGINT) AS vq
        FROM per_dim
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
               CAST(SUM(vq) AS BIGINT) AS sv,
               CAST(SUM(CAST(vq AS HUGEINT) * vq) AS HUGEINT) AS sv2,
               CAST(MAX(vq) AS BIGINT) AS vmax
        FROM vars
    )
    SELECT n_dims,
           {sql_fround("CAST(sv AS DOUBLE) / 1000000000.0 / n_dims", 6)} AS mean_var,
           {sql_fround("CAST(vmax AS DOUBLE) / 1000000000.0", 6)} AS max_var,
           {sql_fround("CAST(sv AS DOUBLE) * sv / sv2", 4)} AS participation_ratio,
           {sql_fround("CAST(sv AS DOUBLE) * sv / sv2 / n_dims", 4)} AS pr_fraction
    FROM agg
    """,
    doc="Participation ratio PR = (SUM v_d)^2 / SUM v_d^2 over the "
    "per-dimension variances — the physics-borrowed effective-"
    "dimensionality estimate (Gao et al. 2017 use it for neural "
    "population geometry; RAG stacks read it as 'how many dimensions "
    "does my embedding model actually use'): PR = D for isotropic "
    "spaces, PR << D when a few directions carry everything — the "
    "variance-spectrum companion to s23's mean-vector anisotropy "
    "(s23 measures the common-direction BIAS, s28 the SPREAD "
    "concentration), and the eigenvalue-free cousin of a PCA scree "
    "read. Elements quantize to 1e-6 integers BEFORE the (n, S1, S2) "
    "sums, so per-dim variances are exact-integer arithmetic in both "
    "engines; the final fold is 64 rows. Scale: one posexplode + one "
    "map-side-combinable groupBy on dim (64 keys) — embarrassingly "
    "parallel, constant-size output at any corpus size.",
)
def s28_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        F.posexplode("embedding").alias("dim0", "v")
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * _Q + F.lit(0.5)).cast("bigint").alias("xq"),
    )
    per_dim = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("s1"),
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    # per-dim variance re-quantized to 1e-9 integers before the 64-row
    # fold: the cross-dim sums stay order-independent on both engines
    vars_ = per_dim.select(
        "dim",
        F.floor(
            (F.col("s2").cast("double") / F.col("n") - mean * mean)
            / (_Q * _Q)
            * 1_000_000_000.0
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("vq"),
    )
    agg = vars_.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.sum("vq").cast("bigint").alias("sv"),
        # vq ~ 1e9 for unit-variance dims, so vq^2 sums past int64:
        # DECIMAL(38,0) here, HUGEINT in the oracle (exact integers
        # cast to the same double at display)
        F.sum(F.expr("CAST(vq AS DECIMAL(19,0)) * vq"))
        .cast("decimal(38,0)")
        .alias("sv2"),
        F.max("vq").cast("bigint").alias("vmax"),
    )
    return agg.select(
        "n_dims",
        fround(F.col("sv").cast("double") / 1_000_000_000.0 / F.col("n_dims"), 6).alias(
            "mean_var"
        ),
        fround(F.col("vmax").cast("double") / 1_000_000_000.0, 6).alias("max_var"),
        fround(F.col("sv").cast("double") * F.col("sv") / F.col("sv2"), 4).alias(
            "participation_ratio"
        ),
        fround(
            F.col("sv").cast("double") * F.col("sv") / F.col("sv2") / F.col("n_dims"), 4
        ).alias("pr_fraction"),
    )


# ---------------------------------------------------------------------------
# s29 — MMR diversity gain vs relevance-only top-k (round 9; s27's
# grading consumer, the m07->m08 pattern)
# ---------------------------------------------------------------------------

_S29_NPAIRS = _S27_PICKS * (_S27_PICKS - 1) // 2


@query(
    "s29_mmr_diversity_gain",
    oracle=f"""{_S27_WITH},
    topk AS (
        SELECT q_id, c_id, rel_q
        FROM (SELECT q_id, c_id, rel_q, ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY rel_q DESC, c_id) AS rn FROM shortlist)
        WHERE rn <= {_S27_PICKS}
    ),
    msel AS (SELECT q_id, c_id, rel_q FROM allsel),
    mm_s AS (
        SELECT p.q_id, CAST(SUM(p.sim_q) AS BIGINT) AS s
        FROM prs p
        JOIN msel a ON a.q_id = p.q_id AND a.c_id = p.a_id
        JOIN msel b ON b.q_id = p.q_id AND b.c_id = p.b_id
        WHERE p.a_id < p.b_id GROUP BY 1
    ),
    tk_s AS (
        SELECT p.q_id, CAST(SUM(p.sim_q) AS BIGINT) AS s
        FROM prs p
        JOIN topk a ON a.q_id = p.q_id AND a.c_id = p.a_id
        JOIN topk b ON b.q_id = p.q_id AND b.c_id = p.b_id
        WHERE p.a_id < p.b_id GROUP BY 1
    ),
    mm_r AS (SELECT q_id, CAST(SUM(rel_q) AS BIGINT) AS r FROM msel GROUP BY 1),
    tk_r AS (SELECT q_id, CAST(SUM(rel_q) AS BIGINT) AS r FROM topk GROUP BY 1)
    SELECT mm_r.q_id,
           {sql_fround(f"CAST(mm_r.r AS DOUBLE) / {_S27_PICKS}000000.0", 6)}
               AS avg_rel_mmr,
           {sql_fround(f"CAST(tk_r.r AS DOUBLE) / {_S27_PICKS}000000.0", 6)}
               AS avg_rel_topk,
           {sql_fround(f"CAST(mm_s.s AS DOUBLE) / {_S29_NPAIRS}000000.0", 6)}
               AS avg_sim_mmr,
           {sql_fround(f"CAST(tk_s.s AS DOUBLE) / {_S29_NPAIRS}000000.0", 6)}
               AS avg_sim_topk,
           {sql_fround(f"CAST(tk_s.s - mm_s.s AS DOUBLE) / {_S29_NPAIRS}000000.0", 6)}
               AS diversity_gain,
           {sql_fround(f"CAST(tk_r.r - mm_r.r AS DOUBLE) / {_S27_PICKS}000000.0", 6)}
               AS relevance_cost
    FROM mm_r
    JOIN tk_r ON tk_r.q_id = mm_r.q_id
    JOIN mm_s ON mm_s.q_id = mm_r.q_id
    JOIN tk_s ON tk_s.q_id = mm_r.q_id
    """,
    doc="Grades s27's MMR trajectory against the relevance-only "
    f"top-{_S27_PICKS} on the SAME shortlist (the m07->m08 consumer "
    "pattern): per probe, mean relevance and mean pairwise intra-list "
    "similarity of both result sets, plus diversity_gain (how much "
    "redundancy MMR removed) and relevance_cost (what it paid) — the "
    "two numbers a RAG stack reads before turning diversification on "
    "(Carbonell & Goldstein 1998 frame MMR as exactly this trade). "
    "All four means are integer sums of the 1e-6-quantized rel_q/"
    "sim_q grids divided by constant set sizes, so the trade-off "
    "readout is engine-exact, and the oracle embeds s27's CTE chain "
    "VERBATIM — the consumer inherits the already-green trajectory. "
    "Scale: reuses s27's persisted frames; every stage after the "
    f"shortlist is O(probes x {_S27_SHORTLIST}^2); 5 output rows.",
)
def s29_mmr_diversity_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, prs, selected = _s27_frames(spark, sf_dir)
    wr = W.partitionBy("q_id").orderBy(F.col("rel_q").desc(), "c_id")
    topk = (
        base.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _S27_PICKS)
        .select("q_id", "c_id", "rel_q")
    )
    msel = selected.select("q_id", "c_id", "rel_q")

    def pair_sum(sel: DataFrame) -> DataFrame:
        a = sel.select("q_id", F.col("c_id").alias("a_id"))
        b = sel.select("q_id", F.col("c_id").alias("b_id"))
        return (
            prs.join(F.broadcast(a), ["q_id", "a_id"])
            .join(F.broadcast(b), ["q_id", "b_id"])
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("q_id")
            .agg(F.sum("sim_q").cast("bigint").alias("s"))
        )

    def rel_sum(sel: DataFrame, name: str) -> DataFrame:
        return sel.groupBy("q_id").agg(F.sum("rel_q").cast("bigint").alias(name))

    mm_s = pair_sum(msel).withColumnRenamed("s", "sm")
    tk_s = pair_sum(topk).withColumnRenamed("s", "st")
    mm_r = rel_sum(msel, "rm")
    tk_r = rel_sum(topk, "rt")
    denom_r = float(_S27_PICKS) * 1_000_000.0
    denom_s = float(_S29_NPAIRS) * 1_000_000.0
    return (
        mm_r.join(tk_r, "q_id")
        .join(mm_s, "q_id")
        .join(tk_s, "q_id")
        .select(
            "q_id",
            fround(F.col("rm").cast("double") / denom_r, 6).alias("avg_rel_mmr"),
            fround(F.col("rt").cast("double") / denom_r, 6).alias("avg_rel_topk"),
            fround(F.col("sm").cast("double") / denom_s, 6).alias("avg_sim_mmr"),
            fround(F.col("st").cast("double") / denom_s, 6).alias("avg_sim_topk"),
            fround((F.col("st") - F.col("sm")).cast("double") / denom_s, 6).alias(
                "diversity_gain"
            ),
            fround((F.col("rt") - F.col("rm")).cast("double") / denom_r, 6).alias(
                "relevance_cost"
            ),
        )
    )


# ---------------------------------------------------------------------------
# s30 — rank-biased overlap between the cosine and raw-dot rankings
# (round 10): Webber et al. 2010's top-weighted list-similarity measure,
# the right way to compare two retrieval orderings (Kendall/Spearman
# over-weight the tail a user never sees)
# ---------------------------------------------------------------------------

S30_K = 10  # evaluation depth
S30_P = 0.9  # RBO persistence (the standard "user examines ~10" setting)
# suffix[m] = sum_{d=m..K} (1-p)·p^(d-1)/d, 1e-12-quantized: a match
# whose WORSE rank is m contributes to the overlap term at every depth
# d >= m, so per-match lookup replaces the depth explode entirely.
_S30_Q = 10**12
S30_SUFFIXQ: tuple[int, ...] = tuple(
    round(sum((1.0 - S30_P) * S30_P ** (d - 1) / d for d in range(m, S30_K + 1)) * _S30_Q)
    for m in range(1, S30_K + 1)
)
_S30_SUFFIX_SQL = "[" + ", ".join(str(v) for v in S30_SUFFIXQ) + "]"


@query(
    "s30_rank_biased_overlap",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
    scored AS (
        SELECT q_id, c_id,
               {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos_sim,
               {_SQL_DOT_QC} AS dot_sim
        FROM q CROSS JOIN c
        WHERE q_id <> c_id
    ),
    ranked AS (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, c_id) AS ra,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY dot_sim DESC, c_id) AS rb
        FROM scored
    ),
    matches AS (
        SELECT q_id,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST(SUM(({_S30_SUFFIX_SQL})[
                   CAST(GREATEST(ra, rb) AS INTEGER)]) AS BIGINT) AS qs
        FROM ranked
        WHERE ra <= {S30_K} AND rb <= {S30_K}
        GROUP BY q_id
    )
    SELECT q.q_id,
           CAST(COALESCE(m.n_common, 0) AS BIGINT) AS n_common,
           {sql_fround(
               f"CAST(COALESCE(m.n_common, 0) AS DOUBLE) / {S30_K}", 4
           )} AS agreement_at_k,
           {sql_fround(
               f"CAST(COALESCE(m.qs, 0) AS DOUBLE) / {_S30_Q}.0", 6
           )} AS rbo
    FROM (SELECT DISTINCT q_id FROM q) q LEFT JOIN matches m USING (q_id)
    """,
    doc=f"Rank-biased overlap at depth {S30_K} (Webber, Moffat & Zobel "
    f"2010, p={S30_P}) between each probe's exact-cosine ranking and "
    "its raw-dot-product ranking — the quantitative answer to 'does "
    "skipping normalization change what the user SEES?' (it does "
    "exactly when candidate norms vary; s03 measures that spread). "
    "RBO = Σ_d (1−p)p^(d−1)·|A_d∩B_d|/d over-weights the top the way "
    "a user reads a result list, unlike Kendall/Spearman which pay "
    "the invisible tail. Both rankings come from ONE scored frame "
    "with two row_number windows (no self-join); a matched item with "
    "worse-rank m contributes the precomputed suffix weight "
    "Σ_{{d≥m}} w_d/d, so the depth dimension never explodes — and the "
    "suffix table is 1e-12-quantized INTEGER literals injected into "
    "both engines, making the rank-biased sum order-independent and "
    "hash-exact. Scale: s02's broadcast-probe scoring (probe count "
    "is fixed), two windows on the probe grain, K-bounded match set.",
)
def s30_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    dotp = dot(F.col("q_emb"), F.col("c_emb"))
    cos = dotp / (l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cos.alias("cos_sim"), dotp.alias("dot_sim"))
    )
    ranked = scored.select(
        "q_id",
        F.row_number()
        .over(W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id"))
        .alias("ra"),
        F.row_number()
        .over(W.partitionBy("q_id").orderBy(F.col("dot_sim").desc(), "c_id"))
        .alias("rb"),
    )
    suffix = F.array(*[F.lit(v) for v in S30_SUFFIXQ])
    matches = (
        ranked.filter((F.col("ra") <= S30_K) & (F.col("rb") <= S30_K))
        .select(
            "q_id",
            F.element_at(suffix, F.greatest("ra", "rb").cast("int")).alias("w"),
        )
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w").cast("bigint").alias("qs"),
        )
    )
    probes = q.select("q_id").distinct()
    return probes.join(matches, "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias("n_common"),
        fround(
            F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / S30_K, 4
        ).alias("agreement_at_k"),
        fround(
            F.coalesce(F.col("qs"), F.lit(0)).cast("double") / float(_S30_Q), 6
        ).alias("rbo"),
    )


# ---------------------------------------------------------------------------
# s31 — Dirichlet-smoothed query-likelihood retrieval (round 10): the
# language-modeling ranker next to t30's BM25 and s12's RRF fusion
# ---------------------------------------------------------------------------

S31_MU = 2000.0  # Dirichlet prior mass (Zhai & Lafferty's standard default)
S31_TOPN = 20
_S31_Q = 1_000_000_000.0  # 1e-9 per-term log-score quantization


def _sql_s31() -> str:
    from .text import BM25_TERMS, _DUCK_TOKS

    terms_in = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    stats AS (SELECT CAST(SUM(len(ts)) AS BIGINT) AS coll_len FROM toks),
    cf AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf
        FROM (SELECT unnest(ts) AS tok FROM toks) t
        WHERE tok IN ({terms_in})
        GROUP BY tok
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(ts) AS tok FROM toks) t
        WHERE tok IN ({terms_in})
        GROUP BY doc_id, tok
    ),
    cand AS (
        SELECT DISTINCT t.doc_id, len(ts) AS dl
        FROM tf t JOIN toks USING (doc_id)
    ),
    grid AS (SELECT doc_id, dl, tok, cf FROM cand CROSS JOIN cf),
    scored AS (
        SELECT g.doc_id,
               CAST(FLOOR(ln(
                   (CAST(COALESCE(t.tf, 0) AS DOUBLE)
                    + {S31_MU} * CAST(g.cf AS DOUBLE) / coll_len)
                   / (CAST(g.dl AS DOUBLE) + {S31_MU})
               ) * {_S31_Q} + 0.5) AS BIGINT) AS sq,
               CASE WHEN t.tf IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM grid g
        LEFT JOIN tf t ON t.doc_id = g.doc_id AND t.tok = g.tok
        CROSS JOIN stats
    ),
    total AS (
        SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS score_q,
               CAST(SUM(hit) AS BIGINT) AS n_terms_hit
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms_hit, score_q,
           CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS BIGINT)
               AS rank
    FROM total
    ORDER BY score_q DESC, doc_id
    LIMIT {S31_TOPN}
    """


def _s31_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X
    from .text import BM25_TERMS

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", X.tokens(F.col("text")).alias("ts"))
    stats = toks.agg(F.sum(F.size("ts")).cast("bigint").alias("coll_len"))
    exploded = toks.select(
        "doc_id", F.size("ts").alias("dl"), F.explode("ts").alias("tok")
    ).filter(F.col("tok").isin(*BM25_TERMS))
    cf = exploded.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    tf = exploded.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"), F.first("dl").alias("dl")
    )
    cand = tf.select("doc_id", "dl").distinct()
    grid = cand.crossJoin(F.broadcast(cf))
    j = (
        grid.join(tf.select("doc_id", "tok", "tf"), ["doc_id", "tok"], "left")
        .crossJoin(F.broadcast(stats))
    )
    sq = F.floor(
        F.log(
            (
                F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                + F.lit(S31_MU) * F.col("cf").cast("double") / F.col("coll_len")
            )
            / (F.col("dl").cast("double") + F.lit(S31_MU))
        )
        * _S31_Q
        + F.lit(0.5)
    ).cast("bigint")
    total = (
        j.select(
            "doc_id",
            sq.alias("sq"),
            F.when(F.col("tf").isNotNull(), 1).otherwise(0).alias("hit"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("sq").cast("bigint").alias("score_q"),
            F.sum("hit").cast("bigint").alias("n_terms_hit"),
        )
    )
    top = total.orderBy(F.col("score_q").desc(), "doc_id").limit(S31_TOPN)
    # single-partition window is intentional: input is the top-N frame
    w = W.orderBy(F.col("score_q").desc(), "doc_id")
    return top.select(
        "doc_id",
        "n_terms_hit",
        "score_q",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


_S31_DOC = (
    f"Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty "
    f"2001, mu={S31_MU:g}): rank documents by sum over query terms of "
    "log((tf + mu*p(t|C)) / (dl + mu)) — the language-modeling ranker "
    "next to t30's BM25 (probabilistic) and s12's RRF fusion, "
    "completing the classic lexical-ranker triptych a retrieval stack "
    "A/B-tests. Smoothing means ABSENT terms still score (the "
    "collection model fills in), so scoring runs on a candidates x "
    "query-term grid: candidate docs (>= 1 hit) cross the broadcast "
    "3-row term frame, left-joined against exact-integer tf. Each "
    "per-(doc, term) log score is 1e-9-quantized BEFORE the per-doc "
    "sum (t30 discipline) so ranking is an integer sort both engines "
    "replay identically; top-N with doc_id tiebreak is "
    "TakeOrderedAndProject. Scale: the IN-list prunes the exploded "
    "token stream before any shuffle; the grid is |candidates| x "
    "|query| rows — the inverted-index posting layout, never "
    "corpus-sized."
)

query("s31_query_likelihood", oracle=_sql_s31(), doc=_S31_DOC)(_s31_impl)


# ---------------------------------------------------------------------------
# s32 — rank-biased overlap between the two LEXICAL rankers (round 10):
# do BM25 (t30) and Dirichlet query-likelihood (s31) agree on what to
# retrieve? The ranker-A/B readout, by the same RBO machinery as s30
# ---------------------------------------------------------------------------

S32_K = 20  # both rankers emit top-20
_S32_SUFFIXQ: tuple[int, ...] = tuple(
    round(sum((1.0 - S30_P) * S30_P ** (d - 1) / d for d in range(m, S32_K + 1)) * _S30_Q)
    for m in range(1, S32_K + 1)
)
_S32_SUFFIX_SQL = "[" + ", ".join(str(v) for v in _S32_SUFFIXQ) + "]"


def _sql_s32() -> str:
    from .registry import QUERIES

    bm = QUERIES["t30_bm25_topk"].oracle
    ql = QUERIES["s31_query_likelihood"].oracle
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_common,
           (FLOOR(CAST(COUNT(*) AS DOUBLE) / {S32_K} * 10000.0 + 0.5)
               / 10000.0) AS agreement_at_k,
           (FLOOR(CAST(COALESCE(SUM(({_S32_SUFFIX_SQL})[
                   CAST(GREATEST(a.rank, b.rank) AS INTEGER)]), 0) AS DOUBLE)
               / {_S30_Q}.0 * 1000000.0 + 0.5) / 1000000.0) AS rbo
    FROM ({bm}) a JOIN ({ql}) b USING (doc_id)
    """


def _s32_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import t30_bm25_topk

    bm = t30_bm25_topk(spark, sf_dir).select("doc_id", F.col("rank").alias("ra"))
    ql = _s31_impl(spark, sf_dir).select("doc_id", F.col("rank").alias("rb"))
    suffix = F.array(*[F.lit(v) for v in _S32_SUFFIXQ])
    m = bm.join(ql, "doc_id").select(
        F.element_at(suffix, F.greatest("ra", "rb").cast("int")).alias("w")
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        fround(F.count(F.lit(1)).cast("double") / S32_K, 4).alias(
            "agreement_at_k"
        ),
        fround(
            F.coalesce(F.sum("w"), F.lit(0)).cast("double") / float(_S30_Q), 6
        ).alias("rbo"),
    )


_S32_DOC = (
    f"Rank-biased overlap at depth {S32_K} (p={S30_P}) between the two "
    "LEXICAL rankers this engine ships — t30's BM25 and s31's "
    "Dirichlet query-likelihood — on the same fixed query: the "
    "ranker-A/B readout an IR team runs before swapping scoring "
    "functions (Webber et al. 2010 §6 is literally this use case). "
    "Both inputs are integer-quantized score rankings with doc_id "
    "tiebreaks, so the joined rank pairs are engine-exact; the "
    "top-weighted overlap then reuses s30's precomputed 1e-12 integer "
    "suffix-weight table (a match's worse rank m contributes "
    "sum_(d>=m) w_d/d), making the RBO sum order-independent. A low "
    "value here with a high s30 says the VECTOR pipeline is stable "
    "but the lexical scorers disagree — exactly the calibration "
    "t71 surfaces for quality filters. Scale: both ranker plans are "
    "top-N-bounded (TakeOrderedAndProject); the overlap join touches "
    f"<= {S32_K} rows a side."
)

query("s32_lexical_rbo", oracle=_sql_s32(), doc=_S32_DOC)(_s32_impl)


# ---------------------------------------------------------------------------
# s33 — EXACT inner-product top-k with Cauchy–Schwarz block pruning
# (round 11): the provable-skip MIPS scan — ANN-grade cost, exact-grade
# guarantee
# ---------------------------------------------------------------------------

_S33_BLOCK = 8  # vectors per pruning block (vec_id div 8)


@query(
    "s33_norm_pruned_topk",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding, {_SQL_NORM_E} AS nrm,
               vec_id // {_S33_BLOCK} AS blk
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_n
        FROM v WHERE vec_id < {N_QUERY_VECS}
    ),
    probe AS (
        SELECT q_id, c_id, ip,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ip DESC, c_id) AS rn
        FROM (
            SELECT q.q_id, c.vec_id AS c_id,
                   {_SQL_DOT_QC.replace("c_emb", "c.embedding")} AS ip
            FROM q CROSS JOIN v c
            WHERE c.blk = 0 AND c.vec_id <> q.q_id
        )
    ),
    tau AS (SELECT q_id, ip AS t FROM probe WHERE rn = {TOP_K}),
    bmax AS (SELECT blk, MAX(nrm) AS bn FROM v GROUP BY blk),
    kept AS (
        SELECT q.q_id, bmax.blk
        FROM q JOIN tau ON tau.q_id = q.q_id
        CROSS JOIN bmax
        WHERE q.q_n * bmax.bn >= tau.t
    ),
    kc AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS blocks_kept FROM kept GROUP BY q_id),
    bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS blocks_total FROM bmax),
    scanned AS (
        SELECT k.q_id, c.vec_id AS c_id,
               {_SQL_DOT_QC.replace("c_emb", "c.embedding")} AS ip
        FROM kept k
        JOIN v c ON c.blk = k.blk
        JOIN q ON q.q_id = k.q_id
        WHERE c.vec_id <> k.q_id
    ),
    ranked AS (
        SELECT q_id, c_id, ip,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ip DESC, c_id) AS rn
        FROM scanned
    )
    SELECT r.q_id, r.c_id, CAST(r.rn AS INTEGER) AS rn,
           {sql_fround("r.ip", 6)} AS ip,
           kc.blocks_kept, bt.blocks_total
    FROM ranked r JOIN kc ON kc.q_id = r.q_id CROSS JOIN bt
    WHERE r.rn <= {TOP_K}
    """,
    doc="EXACT maximum-inner-product top-k with Cauchy–Schwarz block "
    "pruning — the provable middle path between s02's full scan and "
    "the recall-probabilistic ANN family: a per-block max-norm index "
    f"(blocks of {_S33_BLOCK} by vec_id) plus a lower bound tau_q "
    f"(the {TOP_K}-th best exact score inside block 0) lets every "
    "block with |q| * max_norm(block) < tau_q be SKIPPED with zero "
    "recall risk, because dot(q,c) <= |q||c| bounds every candidate "
    "in it; block 0 is always kept (its own max-norm bound dominates "
    "tau_q), so the guarantee is self-consistent and the output is "
    "bit-identical to the unpruned scan. blocks_kept / blocks_total "
    "per query is the audit dial: on this near-isotropic corpus norms "
    "concentrate so pruning is modest, but on real embedding stores "
    "norm spread is the first free win before IVF/PQ (Teflioudi & "
    "Gemulla 2016 LEMP; Li et al. FEXIPRO). All scores and bounds are "
    "left-fold double dots (the s02 shape), identical IEEE on both "
    "engines; the strict < prune means a boundary tie keeps the "
    "block on both sides. Scale: the max-norm index is one narrow "
    "rollup of O(n/block) rows; a pruned block costs ONE comparison "
    "instead of block_size dot products — at 100 TB the index rides "
    "in the parquet footer stats of a vec-norm column and pruning "
    "becomes partition skipping.",
)
def s33_norm_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
        F.expr(f"vec_id div {_S33_BLOCK}").alias("blk"),
    )
    q = v.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_n"),
    )
    c0 = v.filter(F.col("blk") == 0).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    ipx = dot(F.col("q_emb"), F.col("c_emb"))
    probe = (
        F.broadcast(q)
        .crossJoin(c0)
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", ipx.alias("ip"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("ip").desc(), "c_id")
            ),
        )
    )
    tau = probe.filter(F.col("rn") == TOP_K).select("q_id", F.col("ip").alias("t"))
    bmax = v.groupBy("blk").agg(F.max("nrm").alias("bn"))
    kept = (
        F.broadcast(q.select("q_id", "q_n"))
        .join(F.broadcast(tau), "q_id")
        .crossJoin(F.broadcast(bmax))
        .filter(F.col("q_n") * F.col("bn") >= F.col("t"))
        .select("q_id", "blk")
    )
    kc = kept.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("blocks_kept")
    )
    bt = bmax.agg(F.count(F.lit(1)).cast("bigint").alias("blocks_total"))
    cand = v.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"), "blk")
    scanned = (
        F.broadcast(kept)
        .join(cand, "blk")
        .join(F.broadcast(q), "q_id")
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", ipx.alias("ip"))
    )
    ranked = scanned.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.col("ip").desc(), "c_id")
        ),
    ).filter(F.col("rn") <= TOP_K)
    return (
        ranked.join(F.broadcast(kc), "q_id")
        .crossJoin(F.broadcast(bt))
        .select(
            "q_id",
            "c_id",
            "rn",
            fround(F.col("ip"), 6).alias("ip"),
            "blocks_kept",
            "blocks_total",
        )
    )
