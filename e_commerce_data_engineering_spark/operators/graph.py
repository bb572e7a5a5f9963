"""Iterative graph analytics as DataFrame joins (Pregel-without-GraphX,
same pattern as operators/dedup.connected_components).

PageRank is the standard power iteration with damping and dangling-mass
redistribution (Page et al. 1999; the GraphX/Pregel formulation). The
loop is engineered for one driver ACTION per round — the round's
aggregation returns BOTH the convergence delta and the next round's
dangling mass (a static per-node flag carried in the rank frame), so
there is no separate anti-join scan or second collect. Driver state is
two doubles per round, never row data.

Per round: one shuffle to aggregate edge contributions by destination,
one join back to the node list — both keyed on the node id. At 100 TB
the edge table is the big side and is re-joined every round on ``src``:
bucketing edges by ``src`` makes that join co-located, leaving the
contribution aggregation as the only real shuffle per round. Frames are
persisted per round and the previous round explicitly unpersisted, so
executor memory holds exactly two rank snapshots regardless of
iteration count; convergence is O(log(1/tol) / log(1/damping)) rounds,
independent of graph size.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 12,
    tol: float | None = None,
) -> DataFrame:
    """Ranks for every node of the directed graph ``edges`` → columns
    ``(node, rank)`` with ``sum(rank) == 1`` (probability mass).

    * Parallel edges count once (deduped up front).
    * Dangling nodes (no out-edges) spread their mass uniformly — the
      textbook correction, so mass is conserved every round.
    * ``tol=None`` (default) runs exactly ``max_iter`` rounds — the
      production mode (GraphX's staticPageRank): deterministic cost,
      deterministic output, still one bounded collect per round for the
      dangling mass. With a float ``tol`` the loop ALSO stops early when
      L1(rank - prev) <= tol and warns if ``max_iter`` ran out first
      (power iteration contracts like damping^r, so size tol
      accordingly: 1e-6 needs ~85 rounds at damping 0.85).
    """
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")).distinct()
    srcs = e.select(F.col("_src").alias("node")).distinct()
    nodes = (
        srcs.union(e.select(F.col("_dst").alias("node")))
        .distinct()
        # dangling flag is static graph structure: compute once, carry it
        .join(srcs.withColumn("_out", F.lit(True)), "node", "left")
        .select("node", F.coalesce(F.col("_out"), F.lit(False)).alias("_has_out"))
        .persist()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    # edge contribution fraction 1/outdeg(src): static, materialized once
    outdeg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    frac = (
        e.join(outdeg, "_src")
        .select("_src", "_dst", (F.lit(1.0) / F.col("_deg")).alias("_frac"))
        .persist()
    )
    frac.count()

    ranks = nodes.select("node", "_has_out", F.lit(1.0 / n).alias("rank")).persist()
    # round 0 bootstrap: dangling mass of the uniform start (one scalar)
    d_mass = (
        ranks.filter(~F.col("_has_out")).agg(F.sum("rank")).first()[0] or 0.0
    )
    base = (1.0 - damping) / n
    delta = float("inf")
    for _ in range(max_iter):
        contribs = (
            frac.join(ranks.select(F.col("node").alias("_src"), "rank"), "_src")
            .groupBy("_dst")
            .agg(F.sum(F.col("rank") * F.col("_frac")).alias("_in"))
        )
        new_ranks = (
            ranks.select("node", "_has_out", F.col("rank").alias("_prev"))
            .join(contribs.select(F.col("_dst").alias("node"), "_in"), "node", "left")
            .select(
                "node",
                "_has_out",
                "_prev",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("_in"), F.lit(0.0)) + F.lit(d_mass / n))
                ).alias("rank"),
            )
            # localCheckpoint (NOT just persist): each round references
            # `ranks` twice (through contribs and directly), so without
            # truncation the LOGICAL plan doubles per round and Catalyst
            # analysis goes exponential by ~round 8 even though the
            # cached data would make execution cheap. Checkpointing cuts
            # the lineage to a leaf; eager=True materializes it as this
            # round's barrier (executor-local blocks, no reliable-FS
            # write — the right trade for an iterative refinement loop).
            .localCheckpoint(eager=True)
        )
        # bounded collect of the round: convergence delta + next round's
        # dangling mass in one scan of the checkpointed frame
        stats = new_ranks.agg(
            F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("_delta"),
            F.sum(F.when(~F.col("_has_out"), F.col("rank")).otherwise(F.lit(0.0))).alias(
                "_dangling"
            ),
        ).first()
        delta, d_mass = float(stats["_delta"]), float(stats["_dangling"] or 0.0)
        # the bootstrap frame is persisted; checkpointed rounds free
        # their blocks when the frame is garbage collected
        ranks.unpersist()
        ranks = new_ranks
        if tol is not None and delta <= tol:
            break
    else:
        if tol is not None:
            warnings.warn(
                f"pagerank: L1 delta {delta:.2e} > tol {tol:.2e} after "
                f"{max_iter} iterations — ranks are approximate; raise max_iter",
                stacklevel=2,
            )
    out = ranks.select("node", "rank")
    nodes.unpersist()
    frac.unpersist()
    return out


def _triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of the canonical edge list (``u`` < ``v``) exactly
    once, as rows ``(a, b, c)`` with ``b`` < ``c``.

    Degree-orientation (Suri & Vassilvitskii, WWW'11): each edge is
    directed from its lower-(degree, id) endpoint, which bounds every
    node's oriented out-degree by O(sqrt(m)) — wedge generation is then
    Sum(outdeg^2), immune to the power-law hub blowup a naive
    Sum(deg^2) plan hits. Each triangle has exactly one node ``a`` with
    oriented out-edges to the other two, so the wedge + closing-edge
    semi-join finds it exactly once. Everything is equi-joins and
    aggregates (plan-asserted in tests/test_plan_shapes.py)."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("_un"), F.col("d").alias("_ud"))
    dv = deg.select(F.col("node").alias("_vn"), F.col("d").alias("_vd"))
    u_first = (F.col("_ud") < F.col("_vd")) | (
        (F.col("_ud") == F.col("_vd")) & (F.col("u") < F.col("v"))
    )
    ori = (
        edges.join(du, edges["u"] == du["_un"])
        .join(dv, edges["v"] == dv["_vn"])
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    e1 = ori.select(F.col("src").alias("_s1"), F.col("dst").alias("_d1"))
    e2 = ori.select(F.col("src").alias("_s2"), F.col("dst").alias("_d2"))
    wedges = e1.join(
        e2, (F.col("_s1") == F.col("_s2")) & (F.col("_d1") < F.col("_d2"))
    ).select(F.col("_s1").alias("a"), F.col("_d1").alias("b"), F.col("_d2").alias("c"))
    # wedge endpoints are id-ordered (b < c), so the closing edge is the
    # canonical (b, c) row — a two-column equi semi join
    return wedges.join(
        edges.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"], "left_semi"
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as its
    CANONICAL edge list (columns ``u`` < ``v``, one row per edge): each
    triangle from ``_triangles`` credits its three nodes once."""
    return (
        _triangles(edges)
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def edge_triangle_support(edges: DataFrame) -> DataFrame:
    """Per-EDGE triangle support over an undirected graph given as its
    CANONICAL edge list (columns ``u`` < ``v``): for every edge, the
    number of triangles it participates in — the k-truss building block
    (Cohen 2008). Zero-support edges are kept (left join), since the
    2-truss boundary is exactly the support-0 set.

    Same triangle enumeration as ``triangle_counts`` (``_triangles``,
    each triangle found exactly once), but instead of exploding the
    NODE set {a,b,c} we explode the three CANONICAL EDGES
    (min(a,b),max(a,b)), (min(a,c),max(a,c)), (b,c) and count per edge.
    All equi-joins and aggregates — no cartesian stage anywhere."""
    tri_edges = _triangles(edges).select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
                ),
                F.struct(
                    F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v")
                ),
                F.struct(F.col("b").alias("u"), F.col("c").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    sup = tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))
    return edges.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce(F.col("support"), F.lit(0)).cast("bigint").alias("support")
    )


def kcore(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """Nodes of the ``k``-core of an undirected graph — the maximal
    subgraph where every node has degree >= k — given the CANONICAL
    edge list (columns ``u`` < ``v``). Returns ``(node, degree)`` with
    each survivor's degree INSIDE the core subgraph.

    Iterative peel: drop nodes with degree < k, restrict the edge list
    to surviving endpoints, repeat until a round drops nothing. The
    peel is monotone (a node once dropped can never regain degree), so
    the fixpoint is the exact k-core regardless of evaluation order.

    Scale shape mirrors ``pagerank``: every round is one aggregation
    (degrees) + two semi joins (edge restriction), the loop's driver
    state is a single edge count per round, and each round's frame is
    ``localCheckpoint``-ed so the logical plan stays flat instead of
    doubling per iteration. Rounds needed = peel depth of the graph
    (typically << 20 even on power-law graphs); ``max_iter`` bounds the
    worst case of one-node-per-round chains.
    """
    alive = edges.select("u", "v").distinct().localCheckpoint(eager=True)
    n_edges = alive.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        deg = (
            alive.select(F.col("u").alias("node"))
            .union(alive.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        nxt = (
            alive.join(keep.select(F.col("node").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("node").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        alive = nxt
        if n_next == n_edges:  # no edge removed -> degrees are stable
            break
        n_edges = n_next
    else:
        # max_iter exhausted before the peel reached its fixpoint: the
        # remaining subgraph may still contain sub-k nodes, so a silent
        # return would NOT be the k-core. Fail loudly (repo convention —
        # cf. the non-baseline-JPEG path) rather than approximate.
        raise RuntimeError(
            f"kcore(k={k}) did not converge within max_iter={max_iter} "
            f"rounds ({n_edges} edges still alive); raise max_iter — "
            "rounds needed equal the graph's peel depth"
        )
    return (
        alive.select(F.col("u").alias("node"))
        .union(alive.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
    )
