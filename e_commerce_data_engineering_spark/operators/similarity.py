"""Similarity search over embedding columns (SURVEY §2.11).

Two tiers:
* ``cosine_topk`` — exact brute force: broadcast the (small) probe set,
  score all candidates, window-rank. O(|Q|·n); the recall oracle.
* ``lsh_cosine_topk`` — random-hyperplane LSH: candidates only where a
  probe and a vector share a bucket in ≥1 table, then exact re-rank.
  At 100 TB this replaces the full scan with a bucket-join whose cost
  tracks bucket occupancy; planes are seeded Python constants baked
  into the plan (broadcast literals, no state).
"""

from __future__ import annotations

import json
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .. import frames


def const_array(values, element_type: str = "double") -> Column:
    """Plan-literal (possibly nested) double array, shipped as ONE json
    string and parsed JVM-side. Building the same literal from
    ``F.array(*[F.lit(w) ...])`` costs one py4j round-trip per element
    — ~10 s of pure driver-side Python for a 36×64 plane set — while a
    json literal is a single call and Catalyst constant-folds the
    parse. Purely a plan-construction fix; the executed plan is the
    same folded literal either way."""

    def typ(v):
        return f"array<{typ(v[0])}>" if isinstance(v, (list, tuple)) else element_type

    return F.from_json(F.lit(json.dumps(values)), typ(values))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Exact top-k neighbors per query → (q_id, vec_id, cos_sim, rn)."""
    q = queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_q"))
    c = candidates.select(F.col(id_col), F.col(vec_col).alias("_c"))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col(query_id_col) != F.col(id_col))
    scored = pairs.select(
        query_id_col, id_col, cosine(F.col("_q"), F.col("_c")).alias("cos_sim")
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _hyperplanes(n_tables: int, n_planes: int, dim: int, seed: int) -> list[list[list[float]]]:
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def hyperplane_buckets(
    vec: Column, planes: list[list[list[float]]]
) -> Column:
    """array<bigint>: one sign-pattern bucket id per table.

    All tables' buckets come from ONE nested-HOF expression over a 3D
    plan literal (tables × planes × dim): per table, each plane votes
    its power-of-two weight when the dot product is non-negative, and
    the weights sum to the bucket id. Map-side only — no shuffle, no
    UDF — and the plan is O(1) expression nodes regardless of table
    count."""
    n_planes = len(planes[0])
    bit_weights = const_array([float(1 << j) for j in range(n_planes)])
    return F.transform(
        const_array(planes),
        lambda table: F.aggregate(
            F.zip_with(
                table,
                bit_weights,
                lambda plane, w: F.when(
                    F.aggregate(
                        F.zip_with(vec, plane, lambda x, p: x.cast("double") * p),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    >= 0,
                    w,
                ).otherwise(F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("bigint"),
    )


def lsh_cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: bucket-join candidates (any shared table
    bucket) → exact cosine re-rank → (q_id, vec_id, cos_sim, rn).

    Expected recall grows with n_tables, bucket selectivity with
    n_planes; measure against cosine_topk (tests do)."""
    planes = _hyperplanes(n_tables, n_planes, dim, seed)

    def buckets(df: DataFrame, idc: str) -> DataFrame:
        return df.select(
            F.col(idc),
            F.col(vec_col).alias(f"_v_{idc}"),
            F.posexplode(hyperplane_buckets(F.col(vec_col), planes)).alias("_table", "_bucket"),
        )

    qb = buckets(queries.select(F.col(id_col).alias("q_id"), vec_col), "q_id")
    cb = buckets(candidates, id_col)
    cand_pairs = (
        qb.join(cb, ["_table", "_bucket"])
        .filter(F.col("q_id") != F.col(id_col))
        .select("q_id", "_v_q_id", id_col, f"_v_{id_col}")
        .distinct()
    )
    scored = cand_pairs.select(
        "q_id",
        id_col,
        cosine(F.col("_v_q_id"), F.col(f"_v_{id_col}")).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def block_pair_join(
    df: DataFrame,
    id_col: str,
    n_blocks: int | None = None,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """EXACT distributed all-pairs: every unordered row pair meets
    exactly once, via an equi-join on a block-pair key — no broadcast,
    no nested-loop join, memory per task bounded by block size.

    Each row hashes to one of B blocks; a row in block b enters the
    join once per block-pair (i, j), i <= j, that b participates in
    (as the i-side for j in [b, B) and the j-side for i in [0, b]).
    Joining the two sides on the scalar key i*B+j makes block i × block
    j meet exactly once; the caller's `id_a < id_b` filter dedupes the
    diagonal. Costs: shuffle O(n·(B+1)) rows, compute O(n²/2) pairs
    spread over B(B+1)/2 independent tasks, peak task memory two
    blocks. B trades shuffle volume against task granularity — pick
    ~sqrt(2·target_tasks).

    Why this and not LSH when the caller needs EXACT pairs at a loose
    threshold: hyperplane-LSH collision probability per plane is
    1 - θ/π; at cos=0.35 (θ≈69.7°) that is 0.61, so any (tables,
    planes) sized for near-complete recall generates MORE candidate
    pairs than brute force — LSH only wins when cos→1 (true near-dup
    territory; see lsh_cosine_topk). Exactness at a loose threshold is
    inherently O(n²) compute; what must NOT be O(n²) is any single
    task's memory or one driver-side broadcast — this operator bounds
    both.

    Returns pairs (id_a, id_b, <payload>_a, <payload>_b).
    """
    spark = df.sparkSession
    B = n_blocks or max(4, int((2 * spark.sparkContext.defaultParallelism * 4) ** 0.5))
    cols = [F.col(id_col).alias("_bid"), *[F.col(c) for c in payload_cols]]
    src = df.select(*cols).withColumn(
        "_blk", F.pmod(F.xxhash64(F.col("_bid")), F.lit(B)).cast("int")
    )
    # pk(i, j) = i*B + j for block pair i <= j
    i_side = src.withColumn(
        "_pk",
        F.explode(F.sequence(F.col("_blk") * B + F.col("_blk"), F.col("_blk") * B + F.lit(B - 1))),
    )
    j_side = src.withColumn(
        "_pk",
        F.explode(F.sequence(F.col("_blk"), F.col("_blk") * B + F.col("_blk"), F.lit(B))),
    )
    a = i_side.select(
        F.col("_bid").alias("id_a"),
        F.col("_blk").alias("_blk_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
        "_pk",
    )
    b = j_side.select(
        F.col("_bid").alias("id_b"),
        F.col("_blk").alias("_blk_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
        "_pk",
    )
    joined = a.join(b, "_pk")
    # cross-block pairs arrive exactly once (arbitrary orientation);
    # only the diagonal block needs the id dedup. Canonicalize so the
    # output contract is id_a < id_b regardless of block orientation.
    kept = joined.filter(
        (F.col("_blk_a") != F.col("_blk_b")) | (F.col("id_a") < F.col("id_b"))
    )
    swap = F.col("id_a") > F.col("id_b")
    out_cols = [
        F.when(swap, F.col("id_b")).otherwise(F.col("id_a")).alias("id_a"),
        F.when(swap, F.col("id_a")).otherwise(F.col("id_b")).alias("id_b"),
    ]
    for c in payload_cols:
        out_cols.append(F.when(swap, F.col(f"{c}_b")).otherwise(F.col(f"{c}_a")).alias(f"{c}_a"))
        out_cols.append(F.when(swap, F.col(f"{c}_a")).otherwise(F.col(f"{c}_b")).alias(f"{c}_b"))
    return kept.select(*out_cols)


def ivf_index(
    vectors: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF (inverted-file) index: KMeans-partition the vector space into
    nlist cells; each vector lands in its nearest cell.

    Returns (assigned_vectors_with_cell, centroid_list). The centroid
    table is tiny (nlist x dim) and lives driver-side / broadcast — at
    100 TB the assignment pass is one map over the data (no shuffle),
    and the assigned table is written out partitioned BY cell so a
    probe reads only nprobe/nlist of the data (partition pruning).
    """
    from .layout import fan_out

    # Native Lloyd iterations instead of pyspark.ml.KMeans: MLlib's fit
    # schedules ~15 tiny jobs (KMeans|| init + per-iter aggregates) —
    # seconds of pure scheduling overhead here. Centroids only steer
    # probe pruning (recall comes from the exact re-rank downstream),
    # so a hash-seeded init + 3 assignment/mean passes is plenty. Each
    # pass is one distributed job over plan-literal centroids + an
    # nlist x dim collect — the same pattern scales to any data size
    # (the collected state is nlist x dim, never the data).
    fanned = fan_out(vectors).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    fanned = fanned.persist()
    init_rows = (
        fanned.select("_v", F.xxhash64(F.col("_id"), F.lit(seed)).alias("_h"))
        .orderBy("_h")
        .limit(nlist)
        .collect()
    )
    centroids = [[float(x) for x in r["_v"]] for r in init_rows]
    # one refinement pass: centroids only steer probe pruning (the exact
    # re-rank downstream owns recall), and each extra Lloyd pass costs a
    # full assignment job — measured no recall benefit past 1 here.
    for _ in range(1):
        assigned_it = fanned.withColumn("_cell", make_cell_assigner(centroids)(F.col("_v")))
        means = (
            assigned_it.select("_cell", F.posexplode("_v").alias("_dim", "_x"))
            .groupBy("_cell", "_dim")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        by_cell: dict[int, list[float]] = {}
        for r in means:
            by_cell.setdefault(r["_cell"], [0.0] * len(centroids[0]))[r["_dim"]] = r["_m"]
        # empty cells keep their previous centroid
        centroids = [by_cell.get(i, c) for i, c in enumerate(centroids)]
    assigned = vectors.withColumn("_cell", make_cell_assigner(centroids)(F.col(vec_col)))
    fanned.unpersist()
    return assigned, centroids


# frames.key of ivf_index over the vectors plan -> (vectors, persisted
# assigned frame, centroids). The index is the expensive half of IVF (an
# assignment pass + bounded driver collects); probes are cheap. Caching
# it per session is the in-memory analog of writing the assigned table
# out partitioned-by-cell (write_ivf_index) — build once, probe many.
# Keyed like the frame tier, so every query over the same vectors plan
# (d06 and d07; s05 and s11) shares one index and no other corpus can
# reach it.
_IVF_CACHE: dict[tuple, tuple[DataFrame, DataFrame, list[list[float]]]] = {}


def cached_ivf_index(
    vectors: DataFrame,
    nlist: int,
    id_col: str,
    vec_col: str,
    seed: int,
    rebuild: bool = False,
) -> tuple[DataFrame, list[list[float]]]:
    key = frames.key(
        ivf_index, (vectors,), dict(nlist=nlist, id_col=id_col, vec_col=vec_col, seed=seed)
    )
    hit = _IVF_CACHE.get(key)
    if hit is not None and (rebuild or not frames.same_inputs((hit[0],), (vectors,))):
        _IVF_CACHE.pop(key)[1].unpersist()
        hit = None
    if hit is None:
        assigned, centroids = ivf_index(vectors, nlist, id_col, vec_col, seed)
        hit = _IVF_CACHE[key] = (vectors, assigned.persist(), centroids)
    elif not (hit[1].storageLevel.useMemory or hit[1].storageLevel.useDisk):
        # a clearCache() in the caller's context (bench.py runs one per
        # query) evicted the persist: re-persist so consumers don't
        # recompute the assignment pass per probe
        hit[1].persist()
    return hit[1], hit[2]


def clear_ivf_cache() -> int:
    """Evict every cached IVF index, unpersisting its frame — keeps
    long sessions' executor storage bounded when many corpora
    accumulate. Returns the number evicted."""
    n = len(_IVF_CACHE)
    for _, assigned, _ in _IVF_CACHE.values():
        assigned.unpersist()
    _IVF_CACHE.clear()
    return n


def write_ivf_index(
    assigned: DataFrame, centroids: list[list[float]], path: str
) -> None:
    """Materialize an IVF index: the assigned vector table written
    partitioned BY cell (a probe then reads only its nprobe cells —
    partition pruning at the file level) plus the nlist×dim centroid
    table as a sidecar."""
    spark = assigned.sparkSession
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(f"{path}/assigned")
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def read_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    assigned = spark.read.parquet(f"{path}/assigned")
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return assigned, [list(r["centroid"]) for r in rows]


def make_cell_assigner(centroids: list[list[float]]):
    """Vectorized nearest-centroid assignment as an Arrow pandas UDF:
    the whole batch against all centroids in one numpy broadcast —
    linear algebra is the sanctioned pandas-UDF use (a 16-centroid
    interpreted HOF argmin per row costs more than the Arrow hop).
    Built lazily (pandas_udf needs an active session)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # nlist x dim, plan-shipped
    C2 = (C * C).sum(axis=1)  # nlist; ||x||^2 is constant per row -> dropped

    def assign(v):
        X = np.stack(v.values).astype(np.float64)  # batch x dim
        # GEMM form of the argmin: ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2.
        # The naive (X[:,None,:] - C)**2 broadcast materializes a
        # batch x nlist x dim temp — 5 GB per 10k-row Arrow batch at
        # nlist=1024 — and dominated the x64 stress tier; the dot form
        # is one batch x nlist matmul.
        d = C2 - 2.0 * (X @ C.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    # module uses `from __future__ import annotations`, which stringifies
    # inline hints and breaks pandas_udf type inference — set real ones
    assign.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf("int")(assign)


def centroid_dists(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of squared L2 distances to each centroid — pure
    expression over a 2D plan literal (no UDF, no py4j per-element
    literal construction)."""
    return F.transform(
        const_array(centroids),
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda x, w: (x.cast("double") - w) * (x.cast("double") - w)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def nearest_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """int cell id = argmin over centroids of squared L2 distance —
    pure expression (codegen), no UDF; centroids are plan literals."""
    arr = centroid_dists(vec, centroids)
    return (F.array_position(arr, F.array_min(arr)) - 1).cast("int")


def ivf_cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    index: tuple[DataFrame, list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF probing: score only vectors whose cell
    is one of the query's nprobe nearest cells, exact re-rank inside.

    Recall vs brute force rises with nprobe (nprobe=nlist is exact).
    Scale: the index (cell-assigned vectors + centroids) is built ONCE
    — pass ``index`` from read_ivf_index/build, or let the per-session
    ``cached_ivf_index`` build it — and probes touch nprobe/nlist of the
    corpus; the centroid argmin is O(nlist*dim) per row of plan-literal
    arithmetic. Rebuilding per query call is the anti-pattern (a full
    assignment pass per probe batch)."""
    assigned, centroids = index or cached_ivf_index(candidates, nlist, id_col, vec_col, seed)

    # nprobe nearest cells per query: explode centroid distances, rank
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv")).persist()
    probes = (
        q.select(
            "q_id",
            "_qv",
            F.posexplode(centroid_dists(F.col("_qv"), centroids)).alias("_cell", "_dist"),
        )
        .withColumn("_rk", F.row_number().over(W.partitionBy("q_id").orderBy("_dist", "_cell")))
        .filter(F.col("_rk") <= nprobe)
        .select("q_id", "_qv", "_cell")
    )
    pairs = (
        F.broadcast(probes)
        .join(assigned.select(id_col, F.col(vec_col).alias("_cv"), "_cell"), "_cell")
        .filter(F.col("q_id") != F.col(id_col))
    )
    scored = pairs.select("q_id", id_col, cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"))
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


_KQ = 1_000_000.0  # 1e-6 element quantization for order-independent means


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n_iter: int = 5,
) -> tuple[DataFrame, list[list[float]], float]:
    """Full Lloyd's k-means as DataFrame jobs → (assignments, centroids,
    inertia). Unlike ``ivf_index`` (whose centroids only steer probe
    pruning, so a float AVG is fine), this is the clustering-as-output
    operator: per-dimension means sum 1e-6-QUANTIZED elements as exact
    integers, making every centroid — and therefore every assignment
    and the final inertia — independent of partition order and cluster
    layout (differential-tested against a numpy replica).

    Per iteration: one assignment map over the data (plan-literal
    centroids, no shuffle) + one groupBy(cell, dim) rollup + one
    k x dim driver collect. Driver state never exceeds k x dim; the
    data is never collected. Empty cells keep their previous centroid
    (the standard Lloyd degeneracy fix).
    """
    from .layout import fan_out

    fanned = (
        fan_out(vectors)
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .persist()
    )
    init_rows = (
        fanned.select("_v", F.xxhash64(F.col("_id"), F.lit(seed)).alias("_h"))
        .orderBy("_h")
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r["_v"]] for r in init_rows]
    for _ in range(n_iter):
        assigned = fanned.withColumn("_cell", nearest_cell(F.col("_v"), centroids))
        sums = (
            assigned.select("_cell", F.posexplode("_v").alias("_dim", "_x"))
            .groupBy("_cell", "_dim")
            .agg(
                F.sum(
                    F.floor(F.col("_x").cast("double") * _KQ + F.lit(0.5)).cast("bigint")
                ).alias("_qs"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        by_cell: dict[int, list[float]] = {}
        for r in sums:
            by_cell.setdefault(r["_cell"], [0.0] * len(centroids[0]))[r["_dim"]] = (
                r["_qs"] / _KQ / r["_n"]
            )
        centroids = [by_cell.get(i, c) for i, c in enumerate(centroids)]
    assigned = fanned.withColumn("_cell", nearest_cell(F.col("_v"), centroids))
    sq_dist = F.element_at(centroid_dists(F.col("_v"), centroids), F.col("_cell") + 1)
    inertia = (
        assigned.agg(
            F.sum(F.floor(sq_dist * _KQ + F.lit(0.5)).cast("bigint")).alias("_qi")
        ).first()["_qi"]
        / _KQ
    )
    out = assigned.select(
        F.col("_id").alias(id_col), F.col("_cell").alias("cluster")
    )
    fanned.unpersist()
    return out, centroids, float(inertia)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half; Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search")
# ---------------------------------------------------------------------------
#
# Split each (unit-normalized) vector into M contiguous subvectors;
# k-means each subspace to K centroids ("codebook"); a vector is stored
# as M small codes (M bytes at K<=256 — 32x smaller than 64 float32
# dims). Search is asymmetric distance computation (ADC): the query
# precomputes an M x K lookup table of exact subspace distances, and a
# candidate's approximate distance is the sum of M table lookups — no
# float math against the raw vectors at all. On unit vectors L2 and
# cosine are monotone (d^2 = 2 - 2cos), so ADC ranks by approximate
# cosine; an exact re-rank of the top-R closes the accuracy gap.
#
# Scale shape: training = Lloyd over ALL subspaces at once on an
# exploded (id, m, subvec) frame — one distributed job per iteration,
# driver state M x K x (dim/M) floats (= one codebook, never data).
# Encoding is a single map pass (plan-literal codebooks, native HOFs,
# no shuffle). The ADC scan reads only the codes column — at 100 TB
# that is the difference between scanning 25 TB of float32 and 0.4 TB
# of codes.


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE and pass it to ``fn`` as a bound lambda
    variable (a 1-element-array transform). Without this, referencing a
    subexpression N times in a single projection evaluates it N times —
    inside another HOF lambda that multiplies: ``_unit`` naively wraps
    the O(dim) norm inside the per-element lambda, turning a dim-length
    normalize into O(dim²), and PQ encode then slices the unit vector
    M·K times (measured 30 s for 500 rows; bound: <1 s)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _unit(vec: Column) -> Column:
    return _bind(
        l2_norm(vec), lambda n: F.transform(vec, lambda x: x.cast("double") / n)
    )


def pq_train(
    vectors: DataFrame,
    dim: int,
    m_subs: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n_iter: int = 3,
) -> list[list[list[float]]]:
    """Train PQ codebooks → ``codebooks[m][k] = centroid`` (unit-
    normalized input). All M subspaces train simultaneously: the
    exploded (m, subvec) frame runs ONE assignment+rollup job per Lloyd
    iteration, with the per-dimension means 1e-6-quantized like
    ``kmeans_fit`` so codebooks are partition-order independent."""
    from .layout import fan_out

    assert dim % m_subs == 0
    d_sub = dim // m_subs
    subs = (
        fan_out(vectors)
        .select(F.col(id_col).alias("_id"), _unit(F.col(vec_col)).alias("_u"))
        .select(
            "_id",
            "_u",
            F.explode(F.sequence(F.lit(0), F.lit(m_subs - 1))).alias("_m"),
        )
        .select(
            "_id",
            "_m",
            F.slice(F.col("_u"), F.col("_m") * d_sub + 1, d_sub).alias("_sv"),
        )
    )
    # re-derive _u per exploded row is wasteful — materialize the slice
    subs = subs.persist()
    subs.count()

    # deterministic init: per subspace, the K subvectors with the
    # smallest seeded hash of (id, m)
    w_init = W.partitionBy("_m").orderBy(F.xxhash64(F.col("_id"), F.col("_m"), F.lit(seed)))
    init_rows = (
        subs.withColumn("_rk", F.row_number().over(w_init))
        .filter(F.col("_rk") <= k_codes)
        .select("_m", "_rk", "_sv")
        .collect()
    )
    codebooks: list[list[list[float]]] = [[None] * k_codes for _ in range(m_subs)]
    for r in init_rows:
        codebooks[r["_m"]][r["_rk"] - 1] = [float(x) for x in r["_sv"]]

    for _ in range(n_iter):
        cb = const_array(codebooks)
        scores = F.transform(
            F.element_at(cb, F.col("_m") + 1), lambda c: _sq_dist(F.col("_sv"), c)
        )
        assigned = subs.withColumn(
            "_cell", (F.array_position(scores, F.array_min(scores)) - 1).cast("int")
        )
        sums = (
            assigned.select("_m", "_cell", F.posexplode("_sv").alias("_dim", "_x"))
            .groupBy("_m", "_cell", "_dim")
            .agg(
                F.sum(
                    F.floor(F.col("_x").cast("double") * _KQ + F.lit(0.5)).cast("bigint")
                ).alias("_qs"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        seen: dict[tuple[int, int], list[float]] = {}
        for r in sums:
            seen.setdefault((r["_m"], r["_cell"]), [0.0] * d_sub)[r["_dim"]] = (
                r["_qs"] / _KQ / r["_n"]
            )
        codebooks = [
            [seen.get((m, c), codebooks[m][c]) for c in range(k_codes)]
            for m in range(m_subs)
        ]
    subs.unpersist()
    return codebooks


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — one native map pass, no shuffle: code m
    = argmin over the m-th plan-literal codebook of subspace distance."""
    m_subs = len(codebooks)
    d_sub = len(codebooks[0][0])
    cb = const_array(codebooks)

    def codes_of(u):
        def argmin_code(m):
            scores = F.transform(
                F.element_at(cb, m + 1),
                lambda c: _sq_dist(F.slice(u, m * d_sub + 1, d_sub), c),
            )
            # bind the K scores once so argmin doesn't re-run the
            # distance transform for array_position vs array_min
            return _bind(
                scores,
                lambda s: (F.array_position(s, F.array_min(s)) - 1).cast("int"),
            )

        return F.transform(F.sequence(F.lit(0), F.lit(m_subs - 1)), argmin_code)

    # the unit vector is bound once per row — not re-normalized inside
    # each of the M·K subspace distances
    codes = _bind(_unit(F.col(vec_col)), codes_of)
    return vectors.select(F.col(id_col), codes.alias("codes"))


def pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k with exact re-rank → (q_id, vec_id, cos_sim, rn).

    The probe side precomputes its M x K distance LUT as a column (pure
    HOFs over the plan-literal codebooks, broadcast with the probes);
    each candidate is scored by M integer-indexed lookups into that
    LUT — the codes column is the only candidate data touched. The
    top-``rerank`` by approximate distance are re-scored with exact
    cosine against the raw vectors (a join that touches only R rows per
    probe), then the top-``k`` emitted."""
    m_subs = len(codebooks)
    d_sub = len(codebooks[0][0])
    cb = const_array(codebooks)
    # materialized: Catalyst's projection collapse would otherwise
    # inline the whole argmin-encode expression into the probe cross
    # join (one recompute PER PROBE — the d01 signature lesson). At
    # scale the codes table is written once and scanned per query
    # batch; persist is the in-session analog.
    enc = pq_encode(candidates, codebooks, id_col, vec_col).persist()
    enc.count()

    lut = _bind(
        _unit(F.col(vec_col)),
        lambda qu: F.transform(
            F.sequence(F.lit(0), F.lit(m_subs - 1)),
            lambda m: F.transform(
                F.element_at(cb, m + 1),
                lambda c: _sq_dist(F.slice(qu, m * d_sub + 1, d_sub), c),
            ),
        ),
    )
    probes = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("_qv"),
        lut.alias("_lut"),
    )
    approx = (
        F.broadcast(probes)
        .crossJoin(enc)
        .filter(F.col("q_id") != F.col(id_col))
        .select(
            "q_id",
            "_qv",
            id_col,
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m_subs - 1)),
                F.lit(0.0),
                lambda acc, m: acc
                + F.element_at(
                    F.element_at(F.col("_lut"), m + 1),
                    F.element_at(F.col("codes"), m + 1) + 1,
                ),
            ).alias("_adc"),
        )
    )
    w_adc = W.partitionBy("q_id").orderBy(F.col("_adc").asc(), F.col(id_col))
    shortlist = approx.withColumn("_rk", F.row_number().over(w_adc)).filter(
        F.col("_rk") <= rerank
    )
    exact = shortlist.join(
        candidates.select(F.col(id_col), F.col(vec_col).alias("_cv")), id_col
    ).select("q_id", id_col, cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"))
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return exact.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def ivfpq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    index: tuple[DataFrame, list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ search (Jégou et al. 2011, §IV's IVFADC layout): IVF cell
    pruning composed with PQ compression. The scan table is (id, cell,
    codes) — 8 bytes of codes per vector instead of the raw floats —
    and a query touches only the nprobe/nlist slice of it via a cell
    equi-join (never a cross join), scores those codes with the M×K
    ADC lookup table, then exact-re-ranks the top-``rerank`` against
    the raw vectors. This is the standard billion-scale ANN recipe:
    partition pruning bounds IO, PQ bounds bytes-per-vector, re-rank
    restores exactness at the top.

    One simplification vs the paper: codes quantize the RAW unit
    vectors, not the per-cell residuals, so one codebook set serves
    every cell and the encoded table is reusable by the pure-PQ path
    (pq_topk); residual encoding is the known refinement when cells
    are tight. Recall floor vs the exact baseline is asserted in
    tests/test_operators.py."""
    assigned, centroids = index or cached_ivf_index(candidates, nlist, id_col, vec_col, seed)

    # the compressed scan table: cell id + PQ codes, materialized (the
    # d01 lesson: never let Catalyst inline the argmin encode into the
    # probe join). At scale this is a table partitioned by _cell with a
    # codes column — written once, scanned per query batch.
    enc = pq_encode(candidates, codebooks, id_col, vec_col)
    cells = assigned.select(id_col, "_cell").join(enc, id_col).persist()
    cells.count()

    m_subs = len(codebooks)
    d_sub = len(codebooks[0][0])
    cb = const_array(codebooks)
    lut = _bind(
        _unit(F.col(vec_col)),
        lambda qu: F.transform(
            F.sequence(F.lit(0), F.lit(m_subs - 1)),
            lambda m: F.transform(
                F.element_at(cb, m + 1),
                lambda c: _sq_dist(F.slice(qu, m * d_sub + 1, d_sub), c),
            ),
        ),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv"), lut.alias("_lut")
    )
    probes = (
        q.select(
            "q_id",
            "_qv",
            "_lut",
            F.posexplode(centroid_dists(F.col("_qv"), centroids)).alias(
                "_cell", "_dist"
            ),
        )
        .withColumn(
            "_rk", F.row_number().over(W.partitionBy("q_id").orderBy("_dist", "_cell"))
        )
        .filter(F.col("_rk") <= nprobe)
        .select("q_id", "_qv", "_lut", "_cell")
    )
    approx = (
        F.broadcast(probes)
        .join(cells, "_cell")
        .filter(F.col("q_id") != F.col(id_col))
        .select(
            "q_id",
            "_qv",
            id_col,
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m_subs - 1)),
                F.lit(0.0),
                lambda acc, m: acc
                + F.element_at(
                    F.element_at(F.col("_lut"), m + 1),
                    F.element_at(F.col("codes"), m + 1) + 1,
                ),
            ).alias("_adc"),
        )
    )
    w_adc = W.partitionBy("q_id").orderBy(F.col("_adc").asc(), F.col(id_col))
    shortlist = approx.withColumn("_rk", F.row_number().over(w_adc)).filter(
        F.col("_rk") <= rerank
    )
    exact = shortlist.join(
        candidates.select(F.col(id_col), F.col(vec_col).alias("_cv")), id_col
    ).select("q_id", id_col, cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"))
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return exact.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
