"""Graph analytics and sketch queries (SURVEY §2.11 extensions).

Both families share the scale discipline of the rest of the engine:
iterative algorithms keep driver state bounded to scalars (PageRank —
operators/graph.py), and sketches keep shuffle state bounded to a fixed
grid regardless of input size (count-min — operators/sketch.py).

The production variants (g01, x04) are not ANSI-SQL-expressible
(unbounded iteration / Spark-specific xxhash64) and carry rows-only
driver checks plus differential tests: PageRank vs a dense numpy power
iteration (tests/test_graph_sketch.py) and CMS estimates vs exact
counts with the eps*N guarantee asserted. Each also has a HASH-CHECKED
twin that pins the same machinery through the DuckDB oracle: g02
unrolls two power-iteration steps with 1e-12-quantized contribution
sums, and x05 builds the identical sketch grid on an engine-portable
polynomial hash family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..frames import tier
from ..operators.sketch import sql_portable_bucket
from ..sources.tables import load_table
from .money import fround, sql_fround
from .registry import query


def supplier_customer_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list of the transaction graph: supplier <-> customer
    whenever a lineitem links them through its order. Both directions are
    emitted (the co-purchase random walk alternates sides); node ids are
    prefixed ('s'/'c') so the two key spaces cannot collide."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    return pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


@query(
    "g01_pagerank",
    oracle=None,  # power iteration — not SQL-expressible
    doc="PageRank over the supplier–customer transaction graph: Pregel-"
    "style power iteration as one edge join + one aggregation per round "
    "(operators/graph.py), dangling mass redistributed, driver sees two "
    "doubles per round. Differential-tested against a dense numpy power "
    "iteration on the same graph. Ranks are floor-rounded to 1e-8 so "
    "output values are join-order independent.",
)
def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    edges = supplier_customer_edges(spark, sf_dir)
    # fixed 12 rounds (staticPageRank mode): deterministic cost and
    # output; the numpy differential test runs the same 12 rounds
    ranks = pagerank(edges, damping=0.85, max_iter=12)
    return ranks.select("node", fround(F.col("rank"), 8).alias("rank"))


TOP_TOKENS = 10
CMS_EPS = 0.005
CMS_DELTA = 0.01

# x05 portable-sketch constants (small enough that the oracle recomputes
# the grid in milliseconds; the bound est >= exact still holds)
CMS_P_DEPTH, CMS_P_WIDTH = 3, 272
_SQL_BUCKET_T = sql_portable_bucket("token", "d.d", CMS_P_WIDTH)
_SQL_BUCKET_E = sql_portable_bucket("e.token", "d.d", CMS_P_WIDTH)


@query(
    "x05_cms_portable",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
    ),
    exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM toks GROUP BY token
        ORDER BY exact_cnt DESC, token LIMIT {TOP_TOKENS}
    ),
    grid AS (
        SELECT d.d AS depth, {_SQL_BUCKET_T} AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks, (SELECT unnest(generate_series(0, {CMS_P_DEPTH - 1})) AS d) d
        GROUP BY 1, 2
    ),
    est AS (
        SELECT token, MIN(COALESCE(cnt, 0)) AS est
        FROM (
            SELECT e.token, d.d AS depth, {_SQL_BUCKET_E} AS bucket
            FROM exact e, (SELECT unnest(generate_series(0, {CMS_P_DEPTH - 1})) AS d) d
        ) p LEFT JOIN grid USING (depth, bucket)
        GROUP BY token
    )
    SELECT exact.token, exact_cnt, est AS cms_est
    FROM exact JOIN est USING (token)
    """,
    doc="Count-min sketch on an ENGINE-PORTABLE hash family (two "
    "Horner-fold polynomial hashes over character codes, Kirsch–"
    "Mitzenmacher combined — exact int64 math any SQL engine "
    "reproduces), so the whole sketch-build → probe → estimate path is "
    "hash-checked against DuckDB recomputing the identical grid: the "
    "oracle-checkable twin of x04 (operators/sketch.cms_build_portable)."
    " est >= exact always; the eps*N bound is asserted in tests.",
)
def x05_cms_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.sketch import cms_build_portable, cms_estimate_portable

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    sketch = cms_build_portable(toks, "token", CMS_P_DEPTH, CMS_P_WIDTH)
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("token"))
        .limit(TOP_TOKENS)
    )
    est = cms_estimate_portable(
        sketch, exact.select("token"), "token", CMS_P_DEPTH, CMS_P_WIDTH
    )
    return (
        exact.join(est, "token")
        .select("token", "exact_cnt", F.col("est").alias("cms_est"))
    )


@query(
    "x04_cms_heavy_hitters",
    oracle=None,  # estimates hinge on Spark's xxhash64 — no DuckDB twin
    doc="Count-min-sketch frequency estimates for the corpus's top "
    f"{TOP_TOKENS} tokens: the sketch grid is O(depth*width) state "
    "however large the corpus, and grids from table shards merge by "
    "addition (operators/sketch.py). Output carries the exact count "
    "next to the estimate; est >= exact always, and the eps*N "
    "overestimate bound is asserted in tests. At 100 TB the exact "
    "groupBy here is replaced by probing candidate keys (e.g. "
    "per-partition tops) against the same sketch.",
)
def x04_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.sketch import cms_build, cms_estimate

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    sketch = cms_build(toks, "token", CMS_EPS, CMS_DELTA)
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("token"))
        .limit(TOP_TOKENS)
    )
    est = cms_estimate(sketch, exact.select("token"), "token", CMS_EPS, CMS_DELTA)
    return (
        exact.join(est, "token")
        .select("token", "exact_cnt", F.col("est").alias("cms_est"))
        .orderBy(F.col("exact_cnt").desc(), F.col("token"))
    )


_Q12 = "1000000000000.0"  # 1e-12 quantization: contribution sums are
# exact integer adds, so both engines agree however the sum is ordered


@query(
    "g02_pagerank_two_steps",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    srcs AS (SELECT DISTINCT src FROM e),
    nodes AS (
        SELECT t.node, (s.src IS NOT NULL) AS has_out
        FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) t
        LEFT JOIN srcs s ON s.src = t.node
    ),
    scal AS (
        SELECT (SELECT COUNT(*) FROM nodes) AS n,
               (SELECT COUNT(*) FROM nodes WHERE NOT has_out) AS n_dang
    ),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    in1 AS (
        SELECT dst AS node,
               CAST(SUM(CAST(FLOOR((1.0 / n) / deg * {_Q12} + 0.5) AS BIGINT)) AS BIGINT) AS in1q
        FROM e JOIN outdeg USING (src) CROSS JOIN scal
        GROUP BY dst
    ),
    r1 AS (
        SELECT nodes.node, has_out,
               0.15 / n + 0.85 * (COALESCE(in1q, 0) / {_Q12}
                                  + (n_dang * (1.0 / n)) / n) AS r1
        FROM nodes CROSS JOIN scal LEFT JOIN in1 ON in1.node = nodes.node
    ),
    d1 AS (
        SELECT CAST(SUM(CAST(FLOOR(r1 * {_Q12} + 0.5) AS BIGINT)) AS BIGINT) AS d1q
        FROM r1 WHERE NOT has_out
    ),
    in2 AS (
        SELECT e.dst AS node,
               CAST(SUM(CAST(FLOOR(r.r1 / deg * {_Q12} + 0.5) AS BIGINT)) AS BIGINT) AS in2q
        FROM e JOIN outdeg USING (src) JOIN r1 r ON r.node = e.src
        GROUP BY e.dst
    )
    SELECT nodes.node,
           {sql_fround(f"0.15 / n + 0.85 * (COALESCE(in2q, 0) / {_Q12} + (d1q / {_Q12}) / n)", 12)} AS rank
    FROM nodes CROSS JOIN scal CROSS JOIN d1
    LEFT JOIN in2 ON in2.node = nodes.node
    """,
    doc="Two statically-unrolled PageRank power-iteration steps over "
    "the DIRECTED supplier->customer graph (customers are dangling, so "
    "the dangling-mass redistribution is genuinely exercised): the "
    "oracle-checkable twin of g01's iterative loop. Per-edge "
    "contributions are quantized to 1e-12 integers before summing, so "
    "both engines produce bit-identical ranks regardless of sum order "
    "— the same money.py discipline. Validates the graph construction, "
    "out-degree normalization, dangling handling, and damping update "
    "that g01's loop then iterates to convergence.",
)
def g02_pagerank_two_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    Q = 1e12
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
        .persist()
    )
    srcs = e.select("src").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(srcs.select(F.col("src").alias("node"), F.lit(True).alias("_o")), "node", "left")
        .select("node", F.coalesce(F.col("_o"), F.lit(False)).alias("has_out"))
        .persist()
    )
    scal = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(~F.col("has_out"), 1).otherwise(0)).alias("n_dang"),
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    qf = lambda c: F.floor(c * F.lit(Q) + F.lit(0.5)).cast("bigint")  # noqa: E731
    in1 = (
        e.join(outdeg, "src")
        .crossJoin(F.broadcast(scal))
        .groupBy("dst")
        .agg(F.sum(qf((F.lit(1.0) / F.col("n")) / F.col("deg"))).alias("in1q"))
        .select(F.col("dst").alias("node"), "in1q")
    )
    r1 = (
        nodes.crossJoin(F.broadcast(scal))
        .join(in1, "node", "left")
        .select(
            "node",
            "has_out",
            (
                F.lit(0.15) / F.col("n")
                + F.lit(0.85)
                * (
                    F.coalesce(F.col("in1q"), F.lit(0)) / F.lit(Q)
                    + (F.col("n_dang") * (F.lit(1.0) / F.col("n"))) / F.col("n")
                )
            ).alias("r1"),
        )
        .persist()
    )
    d1 = r1.filter(~F.col("has_out")).agg(F.sum(qf(F.col("r1"))).alias("d1q"))
    in2 = (
        e.join(outdeg, "src")
        .join(r1.select(F.col("node").alias("src"), "r1"), "src")
        .groupBy("dst")
        .agg(F.sum(qf(F.col("r1") / F.col("deg"))).alias("in2q"))
        .select(F.col("dst").alias("node"), "in2q")
    )
    return (
        nodes.crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(d1))
        .join(in2, "node", "left")
        .select(
            "node",
            fround(
                F.lit(0.15) / F.col("n")
                + F.lit(0.85)
                * (
                    F.coalesce(F.col("in2q"), F.lit(0)) / F.lit(Q)
                    + (F.col("d1q") / F.lit(Q)) / F.col("n")
                ),
                12,
            ).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# x06 — Bloom-filter membership (portable hash family)
# ---------------------------------------------------------------------------

BLOOM_M = 8192  # filter bits — sized so the 5-hash load factor stays
# useful through the bench tier (k*n/m ~ 0.6 at sf0.1); a production
# build sizes m ~ 10-15 bits/key from the member-count estimate
BLOOM_K = 5  # hash functions
_SQL_BLOOM_M = sql_portable_bucket("m.k", "i", BLOOM_M)
_SQL_BLOOM_P = sql_portable_bucket("p.k", "i", BLOOM_M)


@query(
    "x06_bloom_membership",
    oracle=f"""
    WITH members AS (
        SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1995-04-01'
    ),
    bits AS (
        SELECT DISTINCT {_SQL_BLOOM_M} AS bit
        FROM members m, (SELECT unnest(range({BLOOM_K})) AS i) ii
    ),
    probes AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer),
    ppos AS (
        SELECT p.k, {_SQL_BLOOM_P} AS bit
        FROM probes p, (SELECT unnest(range({BLOOM_K})) AS i) ii
    ),
    claimed AS (
        SELECT pp.k, (COUNT(b.bit) = {BLOOM_K}) AS claimed_member
        FROM ppos pp LEFT JOIN bits b USING (bit)
        GROUP BY pp.k
    )
    SELECT (m.k IS NOT NULL) AS actual_member,
           claimed_member,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM claimed c LEFT JOIN members m ON c.k = m.k
    GROUP BY 1, 2
    """,
    doc="Bloom-filter membership, the join-pruning primitive at 100 TB "
    "(ship a kilobyte bit table to every scan task instead of "
    "shuffling the fact side): build over customers with an urgent "
    "Q1-1995 urgent order, probe ALL customers, and tally (actual, "
    "claimed) — the "
    "no-false-negatives guarantee shows up as zero rows with "
    "actual=true/claimed=false, and the false-positive count is pinned "
    "exactly by the oracle replaying the identical bit positions "
    "(operators/sketch.bloom_build/bloom_probe; filter = a mergeable "
    "DataFrame of set bits, probe = broadcast equi-join).",
)
def x06_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import bloom_build, bloom_probe

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    members = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .select(F.col("o_custkey").cast("string").alias("k"))
        .distinct()
    )
    bits = bloom_build(members, "k", BLOOM_M, BLOOM_K)
    probes = c.select(F.col("c_custkey").cast("string").alias("k"))
    claimed = bloom_probe(bits, probes, "k", BLOOM_M, BLOOM_K)
    return (
        claimed.join(
            members.select("k", F.lit(True).alias("_am")), "k", "left"
        )
        .groupBy(
            F.coalesce(F.col("_am"), F.lit(False)).alias("actual_member"),
            F.col("claimed_member"),
        )
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


# ---------------------------------------------------------------------------
# g03 — two-hop min-label propagation (the CC step, oracle-checked)
# ---------------------------------------------------------------------------

_G03_EDGES_SQL = """
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                        'c' || CAST(o_custkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= 48
"""


@query(
    "g03_cc_two_hop",
    oracle=f"""
    WITH base AS ({_G03_EDGES_SQL}),
    e2 AS (
        SELECT src, dst FROM base
        UNION ALL
        SELECT dst AS src, src AS dst FROM base
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
    SELECT node, label FROM l2
    """,
    doc="Two statically-unrolled rounds of min-label propagation over "
    "the SPARSE high-quantity transaction graph — the exact per-round "
    "step connected_components/d05 iterate to a fixed point, "
    "hash-checked through the oracle (the g02 trick applied to CC): "
    "each round is one edge join + one min-aggregate, labels are "
    "string mins so both engines agree bytewise. The iterative "
    "fixed-point remains differential-tested (union-find replica); "
    "this pins the round itself.",
)
def g03_cc_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.filter(F.col("l_quantity") >= 48)
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    e2 = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    l1 = e2.groupBy(F.col("src").alias("node")).agg(
        F.least(F.col("src"), F.min("dst")).alias("l1")
    )
    l2 = (
        l1.join(e2, l1["node"] == e2["src"])
        .join(
            l1.select(F.col("node").alias("_nb"), F.col("l1").alias("_nb_l1")),
            F.col("dst") == F.col("_nb"),
        )
        .groupBy("node", l1["l1"])
        .agg(F.least(l1["l1"], F.min("_nb_l1")).alias("label"))
    )
    return l2.select("node", "label")


# ---------------------------------------------------------------------------
# g04 — degree-oriented triangle counting (oracle-checked)
# ---------------------------------------------------------------------------

G04_MIN_QTY = 48
G04_MIN_SHARED = 3


@query(
    "g04_triangle_counts",
    oracle=f"""
    WITH co AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= {G04_MIN_QTY}
    ),
    ed AS (
        SELECT a.s AS u, b.s AS v
        FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s HAVING COUNT(*) >= {G04_MIN_SHARED}
    ),
    deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM ed UNION ALL SELECT v AS node FROM ed)
        GROUP BY node
    ),
    ori AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
        FROM ed e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM ori e1 JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst
        JOIN ed e3 ON e3.u = e1.dst AND e3.v = e2.dst
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT a AS node FROM tri
          UNION ALL SELECT b AS node FROM tri
          UNION ALL SELECT c AS node FROM tri)
    GROUP BY node
    """,
    doc="Per-node triangle counts over the thresholded supplier "
    "co-purchase projection (suppliers linked when they share >= "
    f"{G04_MIN_SHARED} high-quantity customers). Uses the "
    "degree-orientation trick (Suri & Vassilvitskii, WWW'11 MapReduce "
    "triangle counting): every edge is directed from its lower-(degree, "
    "id) endpoint, which makes the oriented out-degree O(sqrt(m)) and "
    "bounds the wedge join's fanout — the difference between Sum(deg^2) "
    "on power-law hubs and a scalable plan at 100 TB. Wedge generation "
    "and the closing-edge check are plain equi-joins (no cartesian); "
    "the projection itself notes its own cost: shared-customer pair "
    "generation is Sum(|suppliers-per-customer|^2), kept sparse by the "
    "quantity filter, and at scale a per-customer fanout cap would be "
    "layered on the same plan.",
)
def g04_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_counts

    edges = copurchase_edges(spark, sf_dir)
    return triangle_counts(edges)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) supplier co-purchase edges: suppliers linked
    when they share >= G04_MIN_SHARED distinct high-quantity customers.
    The pair generation is Sum(|suppliers-per-customer|^2), kept sparse
    by the quantity filter; at scale a per-customer fanout cap layers
    onto the same plan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    co = (
        li.filter(F.col("l_quantity") >= G04_MIN_QTY)
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = co.select(F.col("c"), F.col("s").alias("u"))
    b = co.select(F.col("c").alias("_c2"), F.col("s").alias("v"))
    return (
        a.join(b, (a["c"] == b["_c2"]) & (a["u"] < b["v"]))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= G04_MIN_SHARED)
        .select("u", "v")
    )


# ---------------------------------------------------------------------------
# x07 — portable-hash HyperLogLog rollup (oracle-checked)
# ---------------------------------------------------------------------------

from ..operators.sketch import (  # noqa: E402  (query-module tail import)
    HLL_EST_NUM,
    HLL_K,
    HLL_M,
    hll_estimate_portable,
    hll_registers_portable,
    sql_portable_hash,
)

_X07_H1 = sql_portable_hash("text", 31, 1_000_000_007)
_X07_H2 = sql_portable_hash("text", 131, 998_244_353)


@query(
    "x07_hll_portable",
    oracle=f"""
    WITH h AS (
        SELECT source,
               {_X07_H1} % {HLL_M} AS reg,
               {_X07_H2} % {1 << HLL_K} AS w
        FROM documents
    ),
    r AS (
        SELECT source, reg,
               MAX(CASE WHEN w > 0 THEN {HLL_K + 1} - length(bin(w))
                        ELSE {HLL_K + 1} END) AS rho
        FROM h GROUP BY source, reg
    ),
    r2 AS (
        SELECT source, reg, rho FROM r
        UNION ALL
        SELECT '__all__' AS source, reg, MAX(rho) AS rho FROM r GROUP BY reg
    ),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS regs_set,
               CAST(SUM(CAST(1 AS BIGINT) << ({HLL_K + 1} - rho)) AS BIGINT)
                 + ({HLL_M} - CAST(COUNT(*) AS BIGINT)) * {1 << (HLL_K + 1)}
                 AS harmonic_num
        FROM r2 GROUP BY source
    ),
    ex AS (
        SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
        FROM documents GROUP BY source
        UNION ALL
        SELECT '__all__', CAST(COUNT(DISTINCT text) AS BIGINT) FROM documents
    )
    SELECT a.source, regs_set, harmonic_num,
           {sql_fround(f"{HLL_EST_NUM!r} / harmonic_num", 4)} AS est,
           exact_distinct
    FROM agg a JOIN ex USING (source)
    """,
    doc="Portable-hash HyperLogLog distinct-text rollup: per-source "
    "register grids, max-merged into a corpus-wide '__all__' estimate "
    "WITHOUT rescanning the rows — the tiered-rollup pattern x03 "
    "demonstrates with Datasketches HLL, here rebuilt on the portable "
    "hash family so the oracle replays registers, exact-integer "
    "harmonic numerator, and the raw estimate bit-for-bit "
    "(operators/sketch.hll_registers_portable/hll_estimate_portable). "
    "Register state is fixed at m=256 rows per group regardless of "
    "input size — the sketch, not the rows, is the shuffle/merge "
    "state at 100 TB. Exact per-source distinct counts ride along so "
    "the estimator error is visible in the result.",
)
def x07_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    regs = hll_registers_portable(d, "text", ("source",)).persist()
    merged = (
        regs.groupBy("reg")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("__all__").alias("source"), "reg", "rho")
    )
    est = hll_estimate_portable(regs.union(merged), ("source",))
    exact = (
        d.groupBy("source")
        .agg(F.countDistinct("text").alias("exact_distinct"))
        .union(
            d.agg(F.countDistinct("text").alias("exact_distinct")).select(
                F.lit("__all__").alias("source"), "exact_distinct"
            )
        )
    )
    out = est.join(exact, "source").select(
        "source",
        "regs_set",
        "harmonic_num",
        fround(F.col("raw_est"), 4).alias("est"),
        "exact_distinct",
    )
    return out


# ---------------------------------------------------------------------------
# x09 — KMV (K-minimum-values) distinct sketch with pairwise set
# INTERSECTION estimates (Bar-Yossef et al. 2002; Beyer et al.
# SIGMOD'07 distinct-value synopses) — the set-operation capability
# HLL lacks without inclusion-exclusion
# ---------------------------------------------------------------------------

from ..operators.sketch import KMV_ADD as _X09_ADD  # noqa: E402
from ..operators.sketch import KMV_MIX as _X09_MIX  # noqa: E402
from ..operators.sketch import KMV_P as _X09_P  # noqa: E402

X09_K = 16  # sketch size; < per-source distinct-token count at sf0.01
# so the estimator branch (not the exhaustive n<K branch) is exercised.
# Hash family shared with the streaming KMV store (operators/sketch
# kmv_hash: affine-scrambled rank order — the raw Horner fold is
# value-biased toward short common tokens, which would wreck a
# K-MINIMUM estimator).
_X09_H = (
    f"(({sql_portable_hash('tok', 31, _X09_P)}) * {_X09_MIX} + {_X09_ADD})"
    f" % {_X09_P}"
)
_X09_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


@query(
    "x09_kmv_intersection",
    oracle=f"""
    WITH tk AS (
        SELECT DISTINCT source, tok FROM (
            SELECT source, unnest({_X09_TOKS}) AS tok FROM documents)
    ),
    hv AS (SELECT DISTINCT source, {_X09_H} AS hv FROM tk),
    ranked AS (
        SELECT source, hv,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
        FROM hv
    ),
    sk AS (SELECT source, hv FROM ranked WHERE rn <= {X09_K}),
    srcs AS (SELECT DISTINCT source FROM documents),
    pr AS (SELECT a.source AS sa, b.source AS sb
           FROM srcs a JOIN srcs b ON a.source < b.source),
    m AS (
        SELECT pr.sa, pr.sb, s.hv,
               MAX(CASE WHEN s.source = pr.sa THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.source = pr.sb THEN 1 ELSE 0 END) AS in_b
        FROM pr JOIN sk s ON s.source IN (pr.sa, pr.sb)
        GROUP BY pr.sa, pr.sb, s.hv
    ),
    rk AS (
        SELECT sa, sb, hv, in_a, in_b,
               ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn
        FROM m
    ),
    ag AS (
        SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS cnt, MAX(hv) AS kth,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
        FROM rk WHERE rn <= {X09_K} GROUP BY sa, sb
    ),
    ag2 AS (
        SELECT sa, sb, cnt, n_both,
               CASE WHEN cnt < {X09_K} THEN CAST(cnt AS DOUBLE)
                    ELSE CAST({X09_K - 1} AS DOUBLE) * {_X09_P} / kth
               END AS est_union
        FROM ag
    ),
    ex AS (
        SELECT a.source AS sa, b.source AS sb,
               CAST(COUNT(*) AS BIGINT) AS exact_intersection
        FROM tk a JOIN tk b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT ag2.sa AS source_a, ag2.sb AS source_b, n_both,
           {sql_fround("est_union", 4)} AS est_union,
           {sql_fround(f"CAST(n_both AS DOUBLE) * est_union / LEAST({X09_K}, cnt)", 4)}
             AS est_intersection,
           COALESCE(ex.exact_intersection, 0) AS exact_intersection
    FROM ag2 LEFT JOIN ex ON ex.sa = ag2.sa AND ex.sb = ag2.sb
    """,
    doc=f"KMV (K-minimum-values, K={X09_K}) distinct sketches over each "
    "source's token VOCABULARY, with pairwise set-INTERSECTION "
    "estimates per source pair — the set operation HLL cannot do "
    "without inclusion-exclusion error stacking (Beyer et al. "
    "SIGMOD'07): merge two sketches, keep the K smallest hashes, "
    "estimate the union from the K-th smallest ((K-1)·P/h_(K)), and "
    "scale by the fraction of merged-sketch members present in BOTH "
    "sketches. Built on the portable hash so every stage — hash, "
    "rank, merge, overlap count, estimate — replays in DuckDB; the "
    "exact shared-vocabulary count rides along so estimator error is "
    "visible. Scale shape: sketch state is K rows per source "
    "regardless of corpus size; the pair stage joins K-row sketches, "
    "never token rows — the shared-vocabulary companion to t32's "
    "document-level n-gram overlap matrix.",
)
def x09_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.sketch import kmv_hash

    d = load_table(spark, sf_dir, "documents")
    tk = d.select("source", F.explode(tokens(F.col("text"))).alias("tok")).distinct()
    hv = tk.select("source", kmv_hash(F.col("tok")).alias("hv")).distinct()
    sk = (
        hv.withColumn(
            "rn", F.row_number().over(W.partitionBy("source").orderBy("hv"))
        )
        .filter(F.col("rn") <= X09_K)
        .select("source", "hv")
    )
    srcs = d.select("source").distinct()
    pr = (
        srcs.select(F.col("source").alias("sa"))
        .join(srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    m = (
        F.broadcast(pr)
        .join(sk, (F.col("source") == F.col("sa")) | (F.col("source") == F.col("sb")))
        .groupBy("sa", "sb", "hv")
        .agg(
            F.max(
                F.when(F.col("source") == F.col("sa"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("source") == F.col("sb"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    ag = (
        m.withColumn(
            "rn", F.row_number().over(W.partitionBy("sa", "sb").orderBy("hv"))
        )
        .filter(F.col("rn") <= X09_K)
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.max("hv").alias("kth"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
        )
    )
    est_union = F.when(
        F.col("cnt") < X09_K, F.col("cnt").cast("double")
    ).otherwise(
        F.lit(float(X09_K - 1)) * F.lit(float(_X09_P)) / F.col("kth").cast("double")
    )
    ex = (
        tk.select(F.col("source").alias("sa"), "tok")
        .join(
            tk.select(F.col("source").alias("sb"), F.col("tok").alias("_tb")),
            F.col("tok") == F.col("_tb"),
        )
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    return (
        ag.withColumn("est_union_raw", est_union)
        .join(ex, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_both",
            fround(F.col("est_union_raw"), 4).alias("est_union"),
            fround(
                F.col("n_both").cast("double")
                * F.col("est_union_raw")
                / F.least(F.lit(X09_K), F.col("cnt")).cast("double"),
                4,
            ).alias("est_intersection"),
            F.coalesce(F.col("exact_intersection"), F.lit(0).cast("bigint")).alias(
                "exact_intersection"
            ),
        )
    )


@query(
    "g05_clustering_coeff",
    oracle=f"""
    WITH co AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= {G04_MIN_QTY}
    ),
    ed AS (
        SELECT a.s AS u, b.s AS v
        FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s HAVING COUNT(*) >= {G04_MIN_SHARED}
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM ed UNION ALL SELECT v AS node FROM ed)
        GROUP BY node
    ),
    ori AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
        FROM ed e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM ori e1 JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst
        JOIN ed e3 ON e3.u = e1.dst AND e3.v = e2.dst
    ),
    tcnt AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (SELECT a AS node FROM tri
              UNION ALL SELECT b AS node FROM tri
              UNION ALL SELECT c AS node FROM tri)
        GROUP BY node
    )
    SELECT deg.node, deg.d AS degree,
           CAST(COALESCE(tcnt.n_triangles, 0) AS BIGINT) AS n_triangles,
           {sql_fround(
               "2.0 * COALESCE(tcnt.n_triangles, 0) / (deg.d * (deg.d - 1))", 6)}
               AS clustering_coeff
    FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
    WHERE deg.d >= 2
    """,
    doc="Local clustering coefficient over the supplier co-purchase "
    "graph: per node with degree >= 2, the fraction of its neighbor "
    "pairs that are themselves connected — 2T/(d(d-1)) from g04's "
    "degree-oriented triangle counts, the community-tightness signal "
    "graph feature pipelines feed models (high coefficient = cliquey "
    "supplier neighborhoods). Composes the same equi-join-only wedge "
    "machinery (operators/graph.triangle_counts) with the degree "
    "frame via one left join; the coefficient is one IEEE division "
    "over exact integers, so the oracle replays it bit-for-bit.",
)
def g05_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_counts

    edges = copurchase_edges(spark, sf_dir).persist()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges)
    out = (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            fround(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# g06 — k-core pruning, two statically-unrolled peel rounds
# (hash-checked twin of the iterative operators/graph.kcore fixpoint)
# ---------------------------------------------------------------------------

G06_K = 3  # prune to the 3-core of the co-purchase projection

_G06_EDGES_CTES = f"""
    co AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= {G04_MIN_QTY}
    ),
    ed AS (
        SELECT a.s AS u, b.s AS v
        FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s HAVING COUNT(*) >= {G04_MIN_SHARED}
    )"""


@query(
    "g06_kcore_prune",
    oracle=f"""
    WITH {_G06_EDGES_CTES},
    deg0 AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM ed UNION ALL SELECT v AS node FROM ed)
        GROUP BY node
    ),
    alive1 AS (SELECT node FROM deg0 WHERE d >= {G06_K}),
    ed1 AS (
        SELECT u, v FROM ed
        WHERE u IN (SELECT node FROM alive1) AND v IN (SELECT node FROM alive1)
    ),
    deg1 AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM ed1 UNION ALL SELECT v AS node FROM ed1)
        GROUP BY node
    ),
    alive2 AS (SELECT node FROM deg1 WHERE d >= {G06_K}),
    ed2 AS (
        SELECT u, v FROM ed1
        WHERE u IN (SELECT node FROM alive2) AND v IN (SELECT node FROM alive2)
    ),
    deg2 AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM ed2 UNION ALL SELECT v AS node FROM ed2)
        GROUP BY node
    )
    SELECT d0.node,
           CAST(d0.d AS BIGINT) AS deg_initial,
           CAST(d2.d AS BIGINT) AS deg_pruned
    FROM deg2 d2 JOIN deg0 d0 ON d0.node = d2.node
    """,
    doc=f"k-core pruning (k={G06_K}) over the supplier co-purchase "
    "projection: two statically-unrolled peel rounds — drop nodes "
    f"with degree < {G06_K}, restrict edges to survivors, repeat — "
    "each round one aggregation plus two semi joins, exactly the "
    "per-round plan of the production fixpoint operator "
    "(operators/graph.kcore, differential-tested against a pure-"
    "Python peeler to the true fixpoint). The unrolled form is the "
    "hash-checked twin (the g03/g02 pattern: fixed round count makes "
    "the pipeline SQL-expressible). Output: every node alive after "
    "round 2 with its initial degree and its degree in the round-2 "
    "subgraph. Degree-based peeling is the standard 100 TB graph "
    "sparsifier (drop the long tail before triangle/community "
    "passes); each round's shuffle is keyed on node id, no cartesian "
    "anywhere (plan-asserted).",
)
def g06_kcore_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir).persist()

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    def restrict(e: DataFrame, alive: DataFrame) -> DataFrame:
        return e.join(
            alive.select(F.col("node").alias("u")), "u", "left_semi"
        ).join(alive.select(F.col("node").alias("v")), "v", "left_semi")

    deg0 = degrees(edges).persist()
    alive1 = deg0.filter(F.col("d") >= G06_K).select("node")
    ed1 = restrict(edges, alive1)
    alive2 = degrees(ed1).filter(F.col("d") >= G06_K).select("node")
    ed2 = restrict(ed1, alive2)
    return (
        degrees(ed2)
        .select("node", F.col("d").cast("bigint").alias("deg_pruned"))
        .join(
            deg0.select("node", F.col("d").cast("bigint").alias("deg_initial")),
            "node",
        )
        .select("node", "deg_initial", "deg_pruned")
    )


# ---------------------------------------------------------------------------
# x08 — equi-width histogram quantile sketch (oracle-checked, mergeable)
# ---------------------------------------------------------------------------

X08_BINS = 256
X08_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


@query(
    "x08_histogram_quantiles",
    oracle=f"""
    WITH stats AS (
        SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS mn,
               CAST(MAX(l_extendedprice) AS DOUBLE) AS mx,
               COUNT(*) AS n
        FROM lineitem
    ),
    w AS (SELECT mn, mx, n, GREATEST((mx - mn) / {X08_BINS}.0, 1e-9) AS width
          FROM stats),
    hist AS (
        SELECT LEAST(CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - mn) / width)
                          AS BIGINT), {X08_BINS - 1}) AS bin,
               COUNT(*) AS cnt
        FROM lineitem, w
        GROUP BY 1
    ),
    cum AS (
        SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum_count
        FROM hist
    ),
    tgt AS (
        SELECT q, CAST(CEIL(q * n) AS BIGINT) AS target
        FROM (SELECT unnest([{", ".join(str(q) for q in X08_QS)}]) AS q), w
    ),
    pick AS (
        SELECT q, MIN(bin) AS bin
        FROM tgt JOIN cum ON cum_count >= target
        GROUP BY q
    )
    SELECT p.q, CAST(p.bin AS BIGINT) AS bin, c.cum_count,
           {sql_fround("mn + (p.bin + 1) * width", 4)} AS est_value
    FROM pick p JOIN cum c ON c.bin = p.bin, w
    """,
    doc=f"Quantile estimation from a {X08_BINS}-bin equi-width histogram "
    "over lineitem.l_extendedprice — the mergeable-sketch form of "
    "x02's approx_percentile, made fully oracle-checkable: bin edges "
    "derive from one (min, max, count) aggregate, bin assignment and "
    "the quantile pick (smallest bin whose cumulative count reaches "
    "ceil(q*n)) are identical IEEE arithmetic on both engines, and "
    "the histogram is fixed O(bins) state that merges by addition "
    "across shards/days — the shape a 100 TB percentile dashboard "
    "actually ships. The cumulative window runs over the 256-row "
    f"aggregated histogram, never the fact table; the {len(X08_QS)} "
    "quantile probes broadcast-join against it. Estimates report the "
    "bin's upper edge (error <= one bin width = (max-min)/"
    f"{X08_BINS}); x02 carries the approx_percentile production "
    "variant with its rows-only check.",
)
def x08_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x")
    )
    w = li.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "mn",
        "mx",
        "n",
        F.greatest((F.col("mx") - F.col("mn")) / X08_BINS, F.lit(1e-9)).alias("width"),
    )
    from ..operators.sketch import quantiles_from_histogram

    # edges ride in-plan from the stats aggregate (the streaming twin
    # fixes them up front and shares operators/sketch.histogram_bins)
    hist = (
        li.crossJoin(F.broadcast(w))
        .select(
            F.least(
                F.floor((F.col("x") - F.col("mn")) / F.col("width")).cast("bigint"),
                F.lit(X08_BINS - 1),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return quantiles_from_histogram(hist, w, X08_QS)


# ---------------------------------------------------------------------------
# x10 — AMS (Alon–Matias–Szegedy) F2 sketch, fully hash-checked (round 6)
# ---------------------------------------------------------------------------

# 9 estimators (3 groups × 3 for median-of-means), each drawing ±1 signs
# from an independent Horner-fold multiplier over the portable hash
# family — every sum below is exact int64, so both engines agree
# bit-for-bit with no quantization step at all.
_X10_MULTS = (37, 61, 89, 107, 151, 173, 193, 227, 251)
_X10_GROUPS = 3


def ams_zvector(per_tok: DataFrame) -> DataFrame:
    """(token, cnt) → the 9-row AMS state ``(i, zi)``: Z_i = Σ
    sign_i(token)·cnt, each sign a ±1 parity of the portable hash
    under an independent multiplier. Exact int64 throughout, and
    ADDITIVE in cnt — Z over a union of shards/micro-batches is the
    per-shard Z summed element-wise — which is what makes the sketch a
    9-integer mergeable store (batch x10 and the streaming AMS store
    both fold through here, so parity holds by construction)."""
    from ..operators.sketch import portable_hash

    # one row per (token, estimator): the sign fold runs once per
    # DISTINCT token per estimator — 9·|vocab| hashes, not 9·|stream|
    est_rows = per_tok.select(
        "cnt",
        F.posexplode(
            F.array(
                *[
                    (1 - 2 * (portable_hash(F.col("token"), m) % 2)).cast("bigint")
                    for m in _X10_MULTS
                ]
            )
        ).alias("i", "sign"),
    )
    return est_rows.groupBy("i").agg(
        F.sum(F.col("cnt") * F.col("sign")).cast("bigint").alias("zi")
    )


def ams_f2_estimate(z: DataFrame) -> DataFrame:
    """9-row ``(i, zi)`` state → one-row ``ams_f2`` median-of-means
    estimate (3 groups × 3, unrounded double)."""
    means = z.groupBy(
        (F.col("i") / _X10_GROUPS).cast("int").alias("grp")
    ).agg(
        (F.sum(F.col("zi") * F.col("zi")).cast("double") / _X10_GROUPS).alias("grp_mean")
    )
    return means.agg(F.expr("percentile(grp_mean, 0.5)").alias("ams_f2"))


def _x10_sign_sql(mult: int) -> str:
    from ..operators.sketch import sql_portable_hash

    return f"(1 - 2 * (({sql_portable_hash('token', mult)}) % 2))"


@query(
    "x10_ams_f2",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
    ),
    per_tok AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
    ),
    z AS (
        SELECT i,
               CAST(SUM(cnt * CASE i
                   {" ".join(f"WHEN {i} THEN {_x10_sign_sql(m)}" for i, m in enumerate(_X10_MULTS))}
               END) AS BIGINT) AS zi
        FROM per_tok, (SELECT unnest(generate_series(0, {len(_X10_MULTS) - 1})) AS i) g
        GROUP BY i
    ),
    means AS (
        SELECT i // {_X10_GROUPS} AS grp,
               CAST(SUM(zi * zi) AS DOUBLE) / {_X10_GROUPS} AS grp_mean
        FROM z GROUP BY i // {_X10_GROUPS}
    ),
    est AS (SELECT quantile_cont(grp_mean, 0.5) AS ams_f2 FROM means),
    exact AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS exact_f2 FROM per_tok)
    SELECT exact_f2,
           {sql_fround("ams_f2", 4)} AS ams_f2,
           {sql_fround("abs(ams_f2 - exact_f2) / exact_f2", 6)} AS rel_err
    FROM exact, est
    """,
    doc="AMS F2 sketch (Alon–Matias–Szegedy 1996): the second frequency "
    "moment — self-join size / repeat-rate of the token stream — "
    "estimated from 9 counters, each the ±1-signed sum of counts under "
    "an independent portable hash, squared and combined "
    "median-of-means (3 groups × 3). Emitted beside the exact F2 and "
    "relative error. Every Z_i is an exact int64 sum (signs are hash "
    "parities, no floats anywhere until the final division), so the "
    "whole sketch is hash-checked with zero tolerance. Scale: sketch "
    "state is 9 integers however large the stream, Z_i sums are "
    "map-side-combined per partition and merged by addition — the "
    "same mergeability contract as the CMS/HLL family; the exact-F2 "
    "side is one (token) shuffle that the sketch exists to replace "
    "at 100 TB.",
)
def x10_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    per_tok = toks.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    z = ams_zvector(per_tok)
    est = ams_f2_estimate(z)
    exact = per_tok.agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("exact_f2")
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "exact_f2",
            fround(F.col("ams_f2"), 4).alias("ams_f2"),
            fround(
                F.abs(F.col("ams_f2") - F.col("exact_f2")) / F.col("exact_f2"), 6
            ).alias("rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# g07 — link prediction on the supplier co-supply graph (round 7)
# ---------------------------------------------------------------------------

_G07_DF_CAP = 256  # drop parts supplied by more than this many suppliers
# BEFORE anything else: the classic df-bound (t05/t22 discipline). A
# mega-part contributes deg² wedges but near-zero signal (its 1/ln(deg)
# Adamic-Adar weight vanishes), so capping bounds the wedge join at
# |parts|·CAP² while leaving the ranking semantics on the filtered
# graph self-consistent (degrees AND wedges both come from ef).
_G07_TOPK = 25
_G07_Q = "1000000000.0"  # 1e-9 quantization of 1/ln(deg) AA terms


@query(
    "g07_link_prediction",
    oracle=f"""
    WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    dp AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg_p FROM e GROUP BY p),
    ef AS (
        SELECT e.p, e.s, dp.deg_p FROM e JOIN dp ON e.p = dp.p
        WHERE dp.deg_p <= {_G07_DF_CAP}
    ),
    ds AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg_s FROM ef GROUP BY s),
    w AS (
        SELECT a.s AS s_a, b.s AS s_b,
               CAST(COUNT(*) AS BIGINT) AS common,
               CAST(SUM(CAST(FLOOR({_G07_Q} / ln(a.deg_p) + 0.5) AS BIGINT))
                    AS BIGINT) AS aa_q
        FROM ef a JOIN ef b ON a.p = b.p AND a.s < b.s
        GROUP BY a.s, b.s
    ),
    scored AS (
        SELECT s_a, s_b, common,
               da.deg_s + db.deg_s - common AS un,
               CAST(common AS DOUBLE) / (da.deg_s + db.deg_s - common) AS jacc,
               aa_q
        FROM w JOIN ds da ON w.s_a = da.s JOIN ds db ON w.s_b = db.s
    )
    SELECT s_a AS supp_a, s_b AS supp_b,
           common AS common_parts, CAST(un AS BIGINT) AS union_parts,
           {sql_fround("jacc", 6)} AS jaccard,
           {sql_fround(f"CAST(aa_q AS DOUBLE) / {_G07_Q}", 6)} AS adamic_adar
    FROM scored ORDER BY jacc DESC, s_a, s_b LIMIT {_G07_TOPK}
    """,
    doc="Link prediction on the supplier co-supply graph: Jaccard "
    "neighbor similarity AND Adamic–Adar (1/ln(deg) down-weighted "
    "common neighbors — Liben-Nowell & Kleinberg 2003) for the top "
    f"{_G07_TOPK} supplier pairs sharing parts. Candidates come from "
    "a WEDGE equi-join on the part key (never all supplier pairs), "
    f"with parts over df {_G07_DF_CAP} dropped up front — the t05 "
    "df-bound: a mega-part costs deg² wedges and carries vanishing "
    "AA weight, so the filtered graph keeps degrees and wedges "
    "self-consistent while bounding the join at |parts|·CAP². "
    "Jaccard = common/(deg_a+deg_b−common) is an exact-integer ratio "
    "(identical double both engines) and orders the deterministic "
    "top-k; AA terms are 1e-9-BIGINT-quantized before the pair sum "
    "(t21 pattern). Scale: one distinct-edge shuffle, one wedge join "
    "bounded by the df-cap, degree joins on supplier-sized sides, "
    "TakeOrdered for the cut.",
)
def g07_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    # r12 (guide §2.4): the df-capped bipartite edge list feeds the
    # wedge self-join (both sides) AND the supplier-degree rollup —
    # un-persisted, the lineitem distinct + degree-cap join re-ran once
    # per consumer (6.2 s solo at sf0.1). One build on the
    # scratch-parquet tier.
    def build_ef(li: DataFrame) -> DataFrame:
        e = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
        dp = e.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("deg_p"))
        return e.join(dp, "p").filter(F.col("deg_p") <= _G07_DF_CAP)

    ef = tier(build_ef, li)
    ds = ef.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("deg_s"))
    q9 = float(_G07_Q)
    a = ef.select(F.col("p"), F.col("s").alias("s_a"), F.col("deg_p"))
    b = ef.select(F.col("p").alias("_p2"), F.col("s").alias("s_b"))
    w = (
        a.join(b, (a["p"] == b["_p2"]) & (a["s_a"] < b["s_b"]))
        .groupBy("s_a", "s_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common"),
            F.sum(
                F.floor(F.lit(q9) / F.log(F.col("deg_p")) + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("aa_q"),
        )
    )
    da = ds.select(F.col("s").alias("s_a"), F.col("deg_s").alias("deg_a"))
    db = ds.select(F.col("s").alias("s_b"), F.col("deg_s").alias("deg_b"))
    un = F.col("deg_a") + F.col("deg_b") - F.col("common")
    jacc = F.col("common").cast("double") / un
    return (
        w.join(F.broadcast(da), "s_a")
        .join(F.broadcast(db), "s_b")
        .select(
            F.col("s_a").alias("supp_a"),
            F.col("s_b").alias("supp_b"),
            F.col("common").alias("common_parts"),
            un.cast("bigint").alias("union_parts"),
            jacc.alias("_jacc"),
            F.col("aa_q"),
        )
        .orderBy(F.col("_jacc").desc(), "supp_a", "supp_b")
        .limit(_G07_TOPK)
        .select(
            "supp_a",
            "supp_b",
            "common_parts",
            "union_parts",
            fround(F.col("_jacc"), 6).alias("jaccard"),
            fround(F.col("aa_q").cast("double") / q9, 6).alias("adamic_adar"),
        )
    )


# ---------------------------------------------------------------------------
# x11 — Bloom-filter FPR calibration (round 7; the d14/d15 move for x06)
# ---------------------------------------------------------------------------

# fill^k with k explicit multiplications: no pow()/exp() in either
# engine, so the prediction is a deterministic product of an exact
# rational (set_bits/m) — the operational form of the textbook
# (1 - e^(-kn/m))^k, since the measured fill IS 1 - e^(-kn/m) up to
# the exact (1-1/m)^kn load
_X11_FILLK_SQL = " * ".join(["fill"] * BLOOM_K)


@query(
    "x11_bloom_fpr_calibration",
    oracle=f"""
    WITH members AS (
        SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1995-04-01'
    ),
    bits AS (
        SELECT DISTINCT {_SQL_BLOOM_M} AS bit
        FROM members m, (SELECT unnest(range({BLOOM_K})) AS i) ii
    ),
    probes AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer),
    ppos AS (
        SELECT p.k, {_SQL_BLOOM_P} AS bit
        FROM probes p, (SELECT unnest(range({BLOOM_K})) AS i) ii
    ),
    claimed AS (
        SELECT pp.k, (COUNT(b.bit) = {BLOOM_K}) AS claimed_member
        FROM ppos pp LEFT JOIN bits b USING (bit)
        GROUP BY pp.k
    ),
    neg AS (
        SELECT c.claimed_member FROM claimed c
        LEFT JOIN members m ON c.k = m.k
        WHERE m.k IS NULL
    ),
    stats AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS set_bits,
               CAST(COUNT(*) AS BIGINT) AS n_true_neg,
               CAST(SUM(CASE WHEN claimed_member THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_pos
        FROM neg
    )
    SELECT n_members, set_bits, n_true_neg, n_false_pos,
           {sql_fround(f"CAST(set_bits AS DOUBLE) / {BLOOM_M}", 6)} AS fill_frac,
           {sql_fround("CAST(n_false_pos AS DOUBLE) / n_true_neg", 6)}
               AS measured_fpr,
           {sql_fround(
               f"(SELECT {_X11_FILLK_SQL} FROM "
               f"(SELECT CAST(set_bits AS DOUBLE) / {BLOOM_M} AS fill))",
               6,
           )} AS predicted_fpr,
           {sql_fround(
               f"abs(CAST(n_false_pos AS DOUBLE) / n_true_neg - "
               f"(SELECT {_X11_FILLK_SQL} FROM "
               f"(SELECT CAST(set_bits AS DOUBLE) / {BLOOM_M} AS fill)))",
               6,
           )} AS calib_error
    FROM stats
    """,
    doc="Bloom-filter false-positive-rate CALIBRATION — the d14/d15 "
    "audit move applied to x06's filter: probe the true NEGATIVES "
    "(customers without an urgent Q1-1995 order), measure the real "
    f"FPR, and compare to the fill-based prediction fill^{BLOOM_K} "
    "where fill = set_bits/m is the filter's EXACT measured load (the "
    "operational form of (1−e^(−kn/m))^k, computed as k explicit "
    "multiplications of an exact rational — no pow/exp libm call in "
    "either engine, so the whole calibration row is hash-checked). "
    "This is the number that decides whether a deployed filter is "
    "sized right before it ships to every scan task. Scale: the bit "
    "table is <= m rows broadcast; probes ride the x06 map-side "
    "join; one single-row stats aggregate.",
)
def x11_bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import bloom_build, bloom_probe

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    members = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .select(F.col("o_custkey").cast("string").alias("k"))
        .distinct()
    )
    bits = bloom_build(members, "k", BLOOM_M, BLOOM_K)
    probes = c.select(F.col("c_custkey").cast("string").alias("k")).distinct()
    claimed = bloom_probe(bits, probes, "k", BLOOM_M, BLOOM_K)
    neg = claimed.join(
        members.withColumnRenamed("k", "_mk"),
        claimed["k"] == F.col("_mk"),
        "left_anti",
    )
    n_members = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    set_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("set_bits"))
    stats = (
        neg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true_neg"),
            F.sum(F.when(F.col("claimed_member"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_false_pos"),
        )
        .crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(set_bits))
    )
    fill = F.col("set_bits").cast("double") / BLOOM_M
    pred = fill
    for _ in range(BLOOM_K - 1):
        pred = pred * fill
    measured = F.col("n_false_pos").cast("double") / F.col("n_true_neg")
    return stats.select(
        "n_members",
        "set_bits",
        "n_true_neg",
        "n_false_pos",
        fround(fill, 6).alias("fill_frac"),
        fround(measured, 6).alias("measured_fpr"),
        fround(pred, 6).alias("predicted_fpr"),
        fround(F.abs(measured - pred), 6).alias("calib_error"),
    )


# ---------------------------------------------------------------------------
# g08 — majority-label community propagation (round 7; the LPA step)
# ---------------------------------------------------------------------------


@query(
    "g08_label_communities",
    oracle=f"""
    WITH base AS ({_G03_EDGES_SQL}),
    e2 AS (
        SELECT src, dst FROM base
        UNION ALL
        SELECT dst AS src, src AS dst FROM base
    ),
    l0 AS (
        SELECT 's' || CAST(s_suppkey AS VARCHAR) AS node,
               CAST(s_nationkey AS BIGINT) AS lbl
        FROM supplier
        UNION ALL
        SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node,
               CAST(c_nationkey AS BIGINT) AS lbl
        FROM customer
    ),
    r1 AS (
        SELECT e2.src AS node, nb.lbl, CAST(COUNT(*) AS BIGINT) AS c
        FROM e2 JOIN l0 nb ON e2.dst = nb.node
        GROUP BY e2.src, nb.lbl
    ),
    l1 AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, lbl) AS rn
            FROM r1
        ) WHERE rn = 1
    ),
    r2 AS (
        SELECT e2.src AS node, nb.lbl, CAST(COUNT(*) AS BIGINT) AS c
        FROM e2 JOIN l1 nb ON e2.dst = nb.node
        GROUP BY e2.src, nb.lbl
    ),
    l2 AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, lbl) AS rn
            FROM r2
        ) WHERE rn = 1
    )
    SELECT lbl AS community,
           CAST(SUM(CASE WHEN substr(node, 1, 1) = 's' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppliers,
           CAST(SUM(CASE WHEN substr(node, 1, 1) = 'c' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM l2 GROUP BY lbl
    """,
    doc="Community detection by MAJORITY-label propagation (Raghavan "
    "et al. 2007), the mode-vote counterpart of g03's min-label CC "
    "step: labels start as the node's NATION (so votes are meaningful "
    "from round one — unique-id initialization degenerates mode into "
    "min and collapses onto g03), then two synchronized rounds of "
    "'adopt the most frequent neighbor label, ties to the smallest', "
    "reported as the per-community node census on each bipartite "
    "side. Each round is one edge join + one (node,label) count + one "
    "per-node ROW_NUMBER argmax — all keyed by node, no global "
    "window, no iteration state on the driver; the tie-break makes "
    "every round fully deterministic so both engines agree exactly. "
    "Scale: rounds cost |E| shuffle each, the argmax window "
    "partitions by node (hash-distributed), and the census output is "
    "nation-cardinality-sized.",
)
def g08_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    base = (
        li.filter(F.col("l_quantity") >= 48)
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    e2 = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    l0 = sup.select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("node"),
        F.col("s_nationkey").cast("bigint").alias("lbl"),
    ).union(
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("node"),
            F.col("c_nationkey").cast("bigint").alias("lbl"),
        )
    )

    def lpa_round(labels: DataFrame) -> DataFrame:
        nb = labels.select(F.col("node").alias("_nb"), F.col("lbl").alias("_nb_lbl"))
        counts = (
            e2.join(nb, e2["dst"] == nb["_nb"])
            .groupBy(F.col("src").alias("node"), F.col("_nb_lbl").alias("lbl"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        w = W.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl"))
        return (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )

    l2 = lpa_round(lpa_round(l0))
    side = F.substring(F.col("node"), 1, 1)
    return l2.groupBy(F.col("lbl").alias("community")).agg(
        F.sum(F.when(side == "s", 1).otherwise(0)).cast("bigint").alias("n_suppliers"),
        F.sum(F.when(side == "c", 1).otherwise(0)).cast("bigint").alias("n_customers"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )


# ---------------------------------------------------------------------------
# g09 — degree assortativity of the transaction graph (round 7)
# ---------------------------------------------------------------------------


@query(
    "g09_degree_assortativity",
    oracle=f"""
    WITH base AS ({_G03_EDGES_SQL}),
    e2 AS (
        SELECT src, dst FROM base
        UNION ALL
        SELECT dst AS src, src AS dst FROM base
    ),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM e2 GROUP BY src
    ),
    nodem AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d) AS BIGINT) AS sd,
               CAST(SUM(d * d) AS BIGINT) AS sd2,
               CAST(SUM(d * d * d) AS BIGINT) AS sd3
        FROM deg
    ),
    edgem AS (
        SELECT CAST(SUM(du.d * dv.d) AS BIGINT) AS sxy
        FROM e2 JOIN deg du ON e2.src = du.node
                JOIN deg dv ON e2.dst = dv.node
    )
    SELECT n_nodes,
           sd AS n_directed_edges,
           {sql_fround("CAST(sd AS DOUBLE) / n_nodes", 4)} AS mean_degree,
           {sql_fround(
               "sqrt(CAST(sd2 AS DOUBLE) / n_nodes"
               " - (CAST(sd AS DOUBLE) / n_nodes) * (CAST(sd AS DOUBLE) / n_nodes))",
               4,
           )} AS sd_degree,
           {sql_fround(
               "(CAST(sd AS DOUBLE) * sxy - CAST(sd2 AS DOUBLE) * sd2)"
               " / (CAST(sd AS DOUBLE) * sd3 - CAST(sd2 AS DOUBLE) * sd2)",
               6,
           )} AS assortativity
    FROM nodem CROSS JOIN edgem
    """,
    doc="Newman's degree assortativity coefficient (Newman 2002) over "
    "the sparse high-quantity transaction graph — the Pearson "
    "correlation of endpoint degrees across directed edges, the "
    "one-number answer to 'do hubs trade with hubs or with leaves?' "
    "(bipartite commerce graphs are expected strongly DISassortative: "
    "big suppliers serve many small customers). The identity "
    "sum_edges deg(src) = sum_nodes d^2 and sum_edges deg(src)^2 = "
    "sum_nodes d^3 moves every moment except the cross term onto the "
    "node-grain rollup, so the only edge-side work is one join of the "
    "edge list against its own degree table (both sides keyed on the "
    "node id, co-partitioned) and ALL moments are exact int64 sums — "
    "r is then one identically-shaped double expression, sqrt "
    "IEEE-exact, bit-identical both engines before rounding (at "
    "100 TB the d^3 partials would ride DECIMAL(38,0), same plan). "
    "Scale: degree rollup + two co-partitioned equi-joins + "
    "all-to-one moment aggregate; no window, no broadcast of "
    "anything population-sized.",
)
def g09_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.filter(F.col("l_quantity") >= 48)
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    e2 = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = e2.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    nodem = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sd2"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).cast("bigint").alias("sd3"),
    )
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("dv"))
    edgem = (
        e2.join(du, "src")
        .join(dv, "dst")
        .agg(F.sum(F.col("du") * F.col("dv")).cast("bigint").alias("sxy"))
    )
    dsd = F.col("sd").cast("double")
    dsd2 = F.col("sd2").cast("double")
    mean = dsd / F.col("n_nodes")
    return nodem.crossJoin(edgem).select(
        "n_nodes",
        F.col("sd").alias("n_directed_edges"),
        fround(mean, 4).alias("mean_degree"),
        fround(
            F.sqrt(dsd2 / F.col("n_nodes") - mean * mean), 4
        ).alias("sd_degree"),
        fround(
            (dsd * F.col("sxy") - dsd2 * F.col("sd2"))
            / (dsd * F.col("sd3") - dsd2 * F.col("sd2")),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# x12 — Count-Sketch heavy-hitter estimates (round 7; the signed-median
# sibling of x05's count-min: unbiased, two-sided error)
# ---------------------------------------------------------------------------

_X12_DEPTH = 3
_X12_WIDTH = 256
# sign-hash multipliers per depth row (disjoint from the bucket family's
# 31/131 so sign and bucket are independent fold functions)
_X12_SIGN_MULTS = (41, 67, 101)


def cs_grid(per_tok: DataFrame) -> DataFrame:
    """(token, cnt) → the Count-Sketch grid ``(d, bucket, s)``:
    s = Σ sign_d(token)·cnt over tokens hashing into (d, bucket)
    (Charikar–Chen–Farach-Colton 2002). Exact int64 and ADDITIVE in
    cnt, so grids from shards/micro-batches merge by element-wise
    addition — the same mergeable-store contract as the CMS/AMS
    family; batch x12 and the streaming count-sketch store both fold
    through here, so parity holds by construction."""
    from ..operators.sketch import _portable_bucket, portable_hash

    rows = per_tok.select(
        "cnt",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        _portable_bucket(F.col("token"), F.lit(d), _X12_WIDTH)
                        .cast("bigint")
                        .alias("bucket"),
                        (1 - 2 * (portable_hash(F.col("token"), m) % 2))
                        .cast("bigint")
                        .alias("sign"),
                    )
                    for d, m in enumerate(_X12_SIGN_MULTS)
                ]
            )
        ).alias("d", "z"),
    )
    return rows.groupBy(
        F.col("d").cast("bigint").alias("d"), F.col("z.bucket").alias("bucket")
    ).agg(F.sum(F.col("cnt") * F.col("z.sign")).cast("bigint").alias("s"))


def cs_estimates(grid: DataFrame, targets: DataFrame) -> DataFrame:
    """Probe the Count-Sketch grid for each target ``token``: per depth
    the estimate is sign_d(t)·grid[d, bucket_d(t)], combined by the
    exact median of the {_X12_DEPTH} depth estimates — computed as
    sum − greatest − least, an integer expression no engine can
    reorder. The grid is depth·width rows however large the corpus, so
    the probe join broadcasts it."""
    from ..operators.sketch import _portable_bucket, portable_hash

    probes = targets.select(
        "token",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        _portable_bucket(F.col("token"), F.lit(d), _X12_WIDTH)
                        .cast("bigint")
                        .alias("bucket"),
                        (1 - 2 * (portable_hash(F.col("token"), m) % 2))
                        .cast("bigint")
                        .alias("sign"),
                    )
                    for d, m in enumerate(_X12_SIGN_MULTS)
                ]
            )
        ).alias("d", "z"),
    ).select(
        "token", F.col("d").cast("bigint").alias("d"), "z.bucket", "z.sign"
    )
    est = probes.join(F.broadcast(grid), ["d", "bucket"], "left").select(
        "token",
        "d",
        (F.col("sign") * F.coalesce(F.col("s"), F.lit(0))).alias("e"),
    )
    pivot = est.groupBy("token").agg(
        *[
            F.max(F.when(F.col("d") == d, F.col("e"))).alias(f"e{d}")
            for d in range(_X12_DEPTH)
        ]
    )
    e = [F.col(f"e{d}") for d in range(_X12_DEPTH)]
    return pivot.select(
        "token",
        (e[0] + e[1] + e[2] - F.greatest(*e) - F.least(*e))
        .cast("bigint")
        .alias("cs_est"),
    )


def _x12_bucket_sql(d: int) -> str:
    from ..operators.sketch import sql_portable_bucket

    return sql_portable_bucket("token", str(d), _X12_WIDTH)


def _x12_sign_sql(d: int) -> str:
    from ..operators.sketch import sql_portable_hash

    return f"(1 - 2 * (({sql_portable_hash('token', _X12_SIGN_MULTS[d])}) % 2))"


def _x12_token_counts(d: DataFrame) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.layout import fan_out

    return (
        fan_out(d)
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


@query(
    "x12_count_sketch",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
    ),
    per_tok AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
    ),
    grid AS (
        SELECT d.d,
               CASE d.d {" ".join(f"WHEN {d} THEN {_x12_bucket_sql(d)}" for d in range(_X12_DEPTH))} END AS bucket,
               CAST(SUM(cnt * CASE d.d
                   {" ".join(f"WHEN {d} THEN {_x12_sign_sql(d)}" for d in range(_X12_DEPTH))}
               END) AS BIGINT) AS s
        FROM per_tok, (SELECT unnest(generate_series(0, {_X12_DEPTH - 1})) AS d) d
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT token, cnt AS exact_cnt
        FROM per_tok ORDER BY cnt DESC, token LIMIT {TOP_TOKENS}
    ),
    probes AS (
        SELECT e.token, d.d,
               CASE d.d {" ".join(f"WHEN {d} THEN {_x12_bucket_sql(d)}" for d in range(_X12_DEPTH))} END AS bucket,
               CASE d.d {" ".join(f"WHEN {d} THEN {_x12_sign_sql(d)}" for d in range(_X12_DEPTH))} END AS sign
        FROM (SELECT token FROM exact) e,
             (SELECT unnest(generate_series(0, {_X12_DEPTH - 1})) AS d) d
    ),
    ests AS (
        SELECT token, d, sign * COALESCE(s, 0) AS e
        FROM probes LEFT JOIN grid USING (d, bucket)
    ),
    med AS (
        SELECT token,
               MAX(CASE WHEN d = 0 THEN e END) AS e0,
               MAX(CASE WHEN d = 1 THEN e END) AS e1,
               MAX(CASE WHEN d = 2 THEN e END) AS e2
        FROM ests GROUP BY token
    )
    SELECT exact.token, exact_cnt,
           CAST(e0 + e1 + e2 - greatest(e0, e1, e2) - least(e0, e1, e2)
                AS BIGINT) AS cs_est,
           CAST(e0 + e1 + e2 - greatest(e0, e1, e2) - least(e0, e1, e2)
                - exact_cnt AS BIGINT) AS err
    FROM exact JOIN med USING (token)
    """,
    doc=f"Count-Sketch frequency estimates (Charikar–Chen–Farach-Colton "
    f"2002) for the top {TOP_TOKENS} tokens, on the same "
    "engine-portable hash family as x05's count-min — the SIGNED "
    f"sibling: each of {_X12_DEPTH} depth rows adds ±cnt into one of "
    f"{_X12_WIDTH} buckets, the probe multiplies the bucket back by "
    "the sign, and the median of the depth estimates is UNBIASED with "
    "two-sided error (count-min only ever overestimates; count-sketch "
    "is what frequent-directions and feature hashing build on). The "
    "median of 3 is computed as sum − greatest − least: pure integer "
    "arithmetic, no engine median function, so the whole sketch is "
    "hash-checked with zero tolerance. Scale: grid state is "
    f"{_X12_DEPTH}·{_X12_WIDTH} int64 cells however large the corpus, "
    "built map-side-combined per DISTINCT token (3·|vocab| hash "
    "folds, not 3·|stream|), merged across shards by addition — the "
    "streaming twin stores per-batch grids and folds them read-side.",
)
def x12_count_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # r13 (guide §2.4): per_tok fed the grid build AND the exact top-k
    # sort, and exact fed the probe list AND the final join — the
    # corpus tokenize+count pass ran twice and the vocab sort twice.
    # Both ride the scratch tier now (per_tok is THE per-token count
    # table an ingest pipeline materializes; exact is 10 rows), and the
    # tokenize fans out first (one parquet file must not mean one task).
    per_tok = tier(_x12_token_counts, d)
    grid = cs_grid(per_tok)
    exact = tier(
        lambda per_tok: per_tok.select("token", F.col("cnt").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "token")
        .limit(TOP_TOKENS),
        per_tok,
    )
    est = cs_estimates(grid, exact.select("token"))
    return exact.join(est, "token").select(
        "token",
        "exact_cnt",
        "cs_est",
        (F.col("cs_est") - F.col("exact_cnt")).cast("bigint").alias("err"),
    )


# ---------------------------------------------------------------------------
# g10 — rich-club coefficient profile (round 7; do hubs interconnect?)
# ---------------------------------------------------------------------------

_G10_KS = (2, 4, 8, 16, 32)


@query(
    "g10_rich_club",
    oracle=f"""
    WITH base AS ({_G03_EDGES_SQL}),
    e2 AS (
        SELECT src, dst FROM base
        UNION ALL
        SELECT dst AS src, src AS dst FROM base
    ),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM e2 GROUP BY src
    ),
    ks AS (SELECT unnest(ARRAY{list(_G10_KS)}) AS k),
    nk AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg, ks WHERE d >= k GROUP BY k
    ),
    ek AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM e2 JOIN deg du ON e2.src = du.node
                JOIN deg dv ON e2.dst = dv.node, ks
        WHERE du.d >= k AND dv.d >= k
        GROUP BY k
    )
    SELECT CAST(nk.k AS INTEGER) AS k, nk.n_nodes,
           CAST(COALESCE(ek.n_edges, 0) AS BIGINT) AS n_directed_edges,
           {sql_fround(
               "CAST(COALESCE(ek.n_edges, 0) AS DOUBLE)"
               " / (CAST(nk.n_nodes AS DOUBLE) * (nk.n_nodes - 1))",
               6,
           )} AS rich_club_phi
    FROM nk LEFT JOIN ek ON nk.k = ek.k
    WHERE nk.n_nodes >= 2
    """,
    doc="Rich-club coefficient profile (Zhou & Mondragón 2004) of the "
    "sparse transaction graph: for each degree threshold k, the edge "
    "density phi(k) among nodes of degree >= k — a RISING profile "
    "means hubs preferentially interconnect (a trading elite), a "
    "flat/falling one means hubs fan out to the periphery, the "
    "structural complement to g09's single assortativity number (a "
    "graph can be globally disassortative yet still hide a rich "
    "club). Node and edge survivors per threshold are exact int64 "
    "counts on the SAME edge-degree join g09 builds (both endpoints' "
    "degrees ride one co-partitioned equi-join; the 5-row threshold "
    "grid broadcasts onto it), and phi is one division of exact "
    "integers. Scale: degree rollup + two co-partitioned equi-joins "
    "+ a 5-row grid fanout of grid-filtered aggregates; no window, "
    "no pair enumeration — phi needs edge COUNTS, never the pairs "
    "themselves.",
)
def g10_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.filter(F.col("l_quantity") >= 48)
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    e2 = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = e2.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _G10_KS])).alias("k")
    )
    nk = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") >= F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("dv"))
    ek = (
        e2.join(du, "src")
        .join(dv, "dst")
        .crossJoin(F.broadcast(ks))
        .filter((F.col("du") >= F.col("k")) & (F.col("dv") >= F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    ekc = F.coalesce(F.col("n_edges"), F.lit(0)).cast("bigint")
    return (
        nk.join(ek, "k", "left")
        .filter(F.col("n_nodes") >= 2)
        .select(
            F.col("k").cast("int").alias("k"),
            "n_nodes",
            ekc.alias("n_directed_edges"),
            fround(
                ekc.cast("double")
                / (F.col("n_nodes").cast("double") * (F.col("n_nodes") - 1)),
                6,
            ).alias("rich_club_phi"),
        )
    )


# ---------------------------------------------------------------------------
# x13 — linear counting distinct estimate (round 7; the small-n sibling
# of x07's HyperLogLog on the same portable hash)
# ---------------------------------------------------------------------------

_X13_M = 4096  # bitmap width (n << m*ln m regime, Whang et al. 1990)


@query(
    "x13_linear_counting",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
    ),
    hit AS (
        SELECT DISTINCT source,
               ({sql_portable_hash("token", 31, 1_000_000_007)}) % {_X13_M} AS b
        FROM tok
    ),
    occ AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS occupied
        FROM hit GROUP BY source
    ),
    exact AS (
        SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct
        FROM tok GROUP BY source
    )
    SELECT exact.source, exact_distinct, occupied,
           {sql_fround(
               f"{_X13_M} * ln(CAST({_X13_M} AS DOUBLE)"
               f" / ({_X13_M} - occupied))",
               4,
           )} AS lc_est,
           {sql_fround(
               f"abs({_X13_M} * ln(CAST({_X13_M} AS DOUBLE)"
               f" / ({_X13_M} - occupied)) - exact_distinct)"
               f" / exact_distinct",
               6,
           )} AS rel_err
    FROM exact JOIN occ ON exact.source = occ.source
    """,
    doc="Linear counting (Whang et al. 1990) per source on the same "
    "engine-portable hash family as x07's HLL: distinct tokens mark "
    f"buckets in an m={_X13_M} bitmap and the estimate is the "
    "occupancy inversion m*ln(m/empty) — the estimator every "
    "HLL implementation (including x07's) switches TO in the "
    "small-cardinality regime, where it beats HLL's bias; reported "
    "against the exact distinct count with relative error. The "
    "bitmap state is the DISTINCT (source, bucket) set — exact "
    "integers, mergeable by union across shards — and the only "
    "doubles are one ln on an exact-integer ratio, so the whole "
    "estimate is engine-identical. Scale: the bitmap rollup is one "
    "distinct shuffle bounded by sources*m; the exact side is the "
    "(source, token) distinct the sketch exists to replace at "
    "100 TB.",
)
def x13_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.sketch import portable_hash

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    hit = tok.select(
        "source", (portable_hash(F.col("token"), 31) % _X13_M).alias("b")
    ).distinct()
    occ = hit.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("occupied")
    )
    exact = tok.groupBy("source").agg(
        F.countDistinct("token").cast("bigint").alias("exact_distinct")
    )
    m = float(_X13_M)
    est = m * F.log(F.lit(m) / (_X13_M - F.col("occupied")))
    return exact.join(occ, "source").select(
        "source",
        "exact_distinct",
        "occupied",
        fround(est, 4).alias("lc_est"),
        fround(F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 6).alias(
            "rel_err"
        ),
    )


# ---------------------------------------------------------------------------
# x14 — theta-sketch SET DIFFERENCE over event audiences (round 8):
# the a-not-b estimator of the Theta-Sketch Framework (Dasgupta, Lang,
# Rhodes & Thaler 2016) — the set operation behind every "reached but
# did not convert" audience count, built on x09's KMV base
# ---------------------------------------------------------------------------

X14_K = 64  # sketch size; >= distinct users at sf0.001 (exact branch
# exercised there), << users at 100 TB (estimator branch at sf>=0.01)

_X14_H = (
    f"(({sql_portable_hash('uid', 31, _X09_P)}) * {_X09_MIX} + {_X09_ADD})"
    f" % {_X09_P}"
)


@query(
    "x14_theta_sketch_diff",
    oracle=f"""
    WITH aud AS (
        SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS uid
        FROM events
    ),
    hv AS (
        SELECT DISTINCT event_type, {_X14_H} AS hv FROM aud
    ),
    sk AS (
        SELECT event_type, hv FROM (
            SELECT event_type, hv,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
            FROM hv
        ) r WHERE rn <= {X14_K}
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    pr AS (SELECT a.event_type AS ta, b.event_type AS tb
           FROM types a JOIN types b ON a.event_type < b.event_type),
    m AS (
        SELECT pr.ta, pr.tb, s.hv,
               MAX(CASE WHEN s.event_type = pr.ta THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.event_type = pr.tb THEN 1 ELSE 0 END) AS in_b
        FROM pr JOIN sk s ON s.event_type IN (pr.ta, pr.tb)
        GROUP BY pr.ta, pr.tb, s.hv
    ),
    rk AS (
        SELECT ta, tb, in_a, in_b, hv,
               ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
        FROM m
    ),
    ag AS (
        SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS cnt, MAX(hv) AS kth,
               CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS n_a_only,
               CAST(SUM(in_b * (1 - in_a)) AS BIGINT) AS n_b_only
        FROM rk WHERE rn <= {X14_K} GROUP BY ta, tb
    ),
    ag2 AS (
        SELECT ta, tb, cnt, n_a_only, n_b_only,
               CASE WHEN cnt < {X14_K} THEN CAST(cnt AS DOUBLE)
                    ELSE CAST({X14_K - 1} AS DOUBLE) * {_X09_P} / kth
               END AS est_union
        FROM ag
    ),
    flags AS (
        SELECT pr.ta, pr.tb, au.uid,
               MAX(CASE WHEN au.event_type = pr.ta THEN 1 ELSE 0 END) AS has_a,
               MAX(CASE WHEN au.event_type = pr.tb THEN 1 ELSE 0 END) AS has_b
        FROM pr JOIN aud au ON au.event_type IN (pr.ta, pr.tb)
        GROUP BY 1, 2, 3
    ),
    ex AS (
        SELECT ta, tb,
               CAST(SUM(has_a * (1 - has_b)) AS BIGINT) AS exact_a_not_b,
               CAST(SUM(has_b * (1 - has_a)) AS BIGINT) AS exact_b_not_a
        FROM flags GROUP BY 1, 2
    )
    SELECT g.ta AS type_a, g.tb AS type_b,
           g.n_a_only, g.n_b_only,
           {sql_fround("g.est_union", 4)} AS est_union,
           {sql_fround(f"g.n_a_only * g.est_union / LEAST({X14_K}, g.cnt)", 4)}
               AS est_a_not_b,
           {sql_fround(f"g.n_b_only * g.est_union / LEAST({X14_K}, g.cnt)", 4)}
               AS est_b_not_a,
           ex.exact_a_not_b, ex.exact_b_not_a
    FROM ag2 g JOIN ex ON ex.ta = g.ta AND ex.tb = g.tb
    """,
    doc=f"Theta-sketch SET DIFFERENCE (Dasgupta–Lang–Rhodes–Thaler "
    f"2016) over per-event-type user audiences, K={X14_K}: merge two "
    "KMV sketches, keep the K smallest hashes, estimate the union "
    "from the K-th minimum, and scale the fraction of merged-sketch "
    "members in A-but-not-B — the 'reached but did not convert' "
    "audience subtraction HLL cannot do at all and exact COUNT "
    "DISTINCT pays a full shuffle for; exact differences ride along "
    "so estimator error is visible (at sf0.001 user counts sit under "
    "K, exercising the exact branch; above, the estimator branch). "
    "Built on x09's rank-scrambled portable hash, so every stage "
    "replays in DuckDB. Scale: sketch state is K rows per event "
    "type; the pair stage joins K-row sketches, never user rows — "
    "the exact companion join is audience-grain, not event-grain.",
)
def x14_theta_sketch_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import kmv_hash

    e = load_table(spark, sf_dir, "events")
    aud = e.select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    ).distinct()
    hv = aud.select("event_type", kmv_hash(F.col("uid")).alias("hv")).distinct()
    sk = (
        hv.withColumn(
            "rn", F.row_number().over(W.partitionBy("event_type").orderBy("hv"))
        )
        .filter(F.col("rn") <= X14_K)
        .select("event_type", "hv")
    )
    types = e.select("event_type").distinct()
    pr = types.select(F.col("event_type").alias("ta")).join(
        types.select(F.col("event_type").alias("tb")), F.col("ta") < F.col("tb")
    )
    m = (
        F.broadcast(pr)
        .join(sk, (F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb")))
        .groupBy("ta", "tb", "hv")
        .agg(
            F.max(F.when(F.col("event_type") == F.col("ta"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("event_type") == F.col("tb"), 1).otherwise(0)).alias("in_b"),
        )
    )
    rk = m.withColumn(
        "rn", F.row_number().over(W.partitionBy("ta", "tb").orderBy("hv"))
    ).filter(F.col("rn") <= X14_K)
    ag = rk.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.max("hv").alias("kth"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("bigint").alias("n_a_only"),
        F.sum(F.col("in_b") * (1 - F.col("in_a"))).cast("bigint").alias("n_b_only"),
    )
    est_union = F.when(
        F.col("cnt") < X14_K, F.col("cnt").cast("double")
    ).otherwise(F.lit(float(X14_K - 1)) * F.lit(float(_X09_P)) / F.col("kth"))
    ag2 = ag.withColumn("est_union", est_union)
    flags = (
        F.broadcast(pr)
        .join(aud, (F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb")))
        .groupBy("ta", "tb", "uid")
        .agg(
            F.max(F.when(F.col("event_type") == F.col("ta"), 1).otherwise(0)).alias("has_a"),
            F.max(F.when(F.col("event_type") == F.col("tb"), 1).otherwise(0)).alias("has_b"),
        )
    )
    ex = flags.groupBy("ta", "tb").agg(
        F.sum(F.col("has_a") * (1 - F.col("has_b"))).cast("bigint").alias("exact_a_not_b"),
        F.sum(F.col("has_b") * (1 - F.col("has_a"))).cast("bigint").alias("exact_b_not_a"),
    )
    scale = F.col("est_union") / F.least(F.lit(X14_K), F.col("cnt"))
    return (
        ag2.join(ex, ["ta", "tb"])
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "n_a_only",
            "n_b_only",
            fround(F.col("est_union"), 4).alias("est_union"),
            fround(F.col("n_a_only") * scale, 4).alias("est_a_not_b"),
            fround(F.col("n_b_only") * scale, 4).alias("est_b_not_a"),
            "exact_a_not_b",
            "exact_b_not_a",
        )
    )


# ---------------------------------------------------------------------------
# g11 — weighted bipartite projection with Salton cosine weights
# (round 8): g04 consumed a thresholded projection as an unweighted
# edge list; g11 makes the PROJECTION ITSELF the deliverable, with
# the normalization that separates "bought together" from "both
# popular" (Newman 2001 scientific-collaboration projection weights)
# ---------------------------------------------------------------------------

G11_BASKET_CAP = 64  # drop customers with more distinct parts (the
# g07 df-cap move: bounds the pair fanout at |customers|*CAP^2)
G11_MIN_SHARED = 2  # pairs need >= 2 shared customers (kills noise)
G11_TOP = 20


@query(
    "g11_bipartite_projection",
    oracle=f"""
    WITH co AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    keep AS (
        SELECT c FROM co GROUP BY c HAVING COUNT(*) <= {G11_BASKET_CAP}
    ),
    cof AS (SELECT co.c, co.p FROM co JOIN keep USING (c)),
    deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM cof GROUP BY p),
    pairs AS (
        SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM cof a JOIN cof b ON a.c = b.c AND a.p < b.p
        GROUP BY 1, 2
        HAVING COUNT(*) >= {G11_MIN_SHARED}
    ),
    w AS (
        SELECT pairs.p1, pairs.p2, pairs.shared,
               da.d AS deg_1, db.d AS deg_2,
               CAST(pairs.shared AS DOUBLE)
                   / sqrt(CAST(da.d * db.d AS DOUBLE)) AS salton
        FROM pairs
        JOIN deg da ON da.p = pairs.p1
        JOIN deg db ON db.p = pairs.p2
    )
    SELECT p1, p2, shared, deg_1, deg_2,
           {sql_fround("salton", 6)} AS salton
    FROM w
    ORDER BY salton DESC, p1, p2
    LIMIT {G11_TOP}
    """,
    doc="Weighted bipartite PROJECTION: the customer-part purchase "
    "graph projected onto parts with Salton cosine weights — shared "
    "customers over sqrt(deg1*deg2) (Newman 2001's collaboration-"
    "network normalization) — so two niche parts bought by the same "
    "three customers outrank two bestsellers that overlap by "
    "accident; the top edges are the item-item recommender's "
    f"candidate list. Customers with > {G11_BASKET_CAP} distinct "
    "parts are dropped up front (the g07 df-cap: whale accounts "
    "carry no co-purchase signal and would quadratically dominate "
    "the pair fanout), degrees are computed on the SAME capped "
    "universe (self-consistent weights), and shared counts / degrees "
    "stay exact int64 with one sqrt+division at the end — identical "
    "IEEE ops both engines, so the float ORDER BY cuts the same "
    f"top-{G11_TOP}. Scale: pair generation is sum(basket^2) bounded "
    f"by CAP^2 per customer; degree joins are part-grain; TakeOrdered "
    "cuts without a global sort.",
)
def g11_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    # r12 (guide §2.4): the capped purchase universe feeds the degree
    # rollup AND both pair-join sides — un-materialized, the
    # lineitem⋈orders distinct + basket-cap join re-ran once per
    # consumer (3×). One build on the scratch-parquet tier, over the
    # inner distinct — a tier entry of its own, read by the build's two
    # consumers.
    def build_cof(li: DataFrame, o: DataFrame) -> DataFrame:
        co = tier(
            lambda li, o: li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
            .distinct(),
            li,
            o,
        )
        keep = (
            co.groupBy("c")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= G11_BASKET_CAP)
            .select("c")
        )
        return co.join(keep, "c")

    cof = tier(build_cof, li, o)
    deg = cof.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = cof.select("c", F.col("p").alias("p1"))
    b = cof.select(F.col("c").alias("_c2"), F.col("p").alias("p2"))
    pairs = (
        a.join(b, (a["c"] == b["_c2"]) & (a["p1"] < b["p2"]))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .filter(F.col("shared") >= G11_MIN_SHARED)
    )
    da = deg.select(F.col("p").alias("p1"), F.col("d").alias("deg_1"))
    db = deg.select(F.col("p").alias("p2"), F.col("d").alias("deg_2"))
    salton = F.col("shared").cast("double") / F.sqrt(
        (F.col("deg_1") * F.col("deg_2")).cast("double")
    )
    w = pairs.join(da, "p1").join(db, "p2").withColumn("salton", salton)
    return (
        w.orderBy(F.col("salton").desc(), "p1", "p2")
        .limit(G11_TOP)
        .select("p1", "p2", "shared", "deg_1", "deg_2", fround(F.col("salton"), 6).alias("salton"))
    )


# ---------------------------------------------------------------------------
# g12 — 2-hop harmonic centrality (round 8): WHO is central, asked
# with the only centrality that handles disconnected graphs cleanly
# (Boldi & Vigna 2014), truncated to radius 2 so the whole number is
# an exact integer — no iteration, no floats until the final display
# ---------------------------------------------------------------------------

G12_TOP = 20


@query(
    "g12_harmonic_centrality",
    oracle=f"""
    WITH co AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= {G04_MIN_QTY}
    ),
    ed AS (
        SELECT a.s AS u, b.s AS v
        FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s HAVING COUNT(*) >= {G04_MIN_SHARED}
    ),
    und AS (
        SELECT u AS src, v AS dst FROM ed
        UNION ALL
        SELECT v AS src, u AS dst FROM ed
    ),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
    two AS (
        SELECT DISTINCT a.src AS node, b.dst AS w
        FROM und a JOIN und b ON b.src = a.dst
        WHERE b.dst <> a.src
    ),
    strict2 AS (
        SELECT t.node, t.w FROM two t
        LEFT JOIN und e ON e.src = t.node AND e.dst = t.w
        WHERE e.dst IS NULL
    ),
    n2 AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n2 FROM strict2 GROUP BY 1)
    SELECT deg.node, deg.d AS n_dist1,
           COALESCE(n2.n2, 0) AS n_dist2,
           CAST(2 * deg.d + COALESCE(n2.n2, 0) AS BIGINT) AS h2_x2,
           {sql_fround("CAST(2 * deg.d + COALESCE(n2.n2, 0) AS DOUBLE) / 2", 1)}
               AS harmonic_r2
    FROM deg LEFT JOIN n2 ON n2.node = deg.node
    ORDER BY 2 * deg.d + COALESCE(n2.n2, 0) DESC, deg.node
    LIMIT {G12_TOP}
    """,
    doc="Radius-2 harmonic centrality on the supplier co-purchase "
    "graph: H2(v) = |N1(v)| + |N2(v)|/2, the truncated form of the "
    "centrality Boldi & Vigna 2014 argue is the ONLY one that "
    "behaves on disconnected graphs (unreachable nodes contribute "
    "zero, not infinity) — ranking suppliers by how much of the "
    "market sits within two handshakes. The whole rank key is the "
    "exact integer 2*|N1| + |N2| (the only float is display "
    "division), so the top-k cut is an integer sort both engines "
    "settle identically; distance-2 neighbors are a one-join BFS "
    "unroll with a direct-edge anti-join (STRICT distance 2 — the "
    "g03 two-hop move pointed at a metric instead of a label). "
    "Scale: the wedge join is the g04-shaped equi-join on the "
    "shared co-purchase edges; everything aggregates at node grain; "
    "TakeOrdered cuts without a global sort. Unrolling past radius "
    "2 composes the same join once more per hop.",
)
def g12_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir).persist()
    und = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    b = und.select(F.col("src").alias("_mid"), F.col("dst").alias("w"))
    two = (
        und.join(b, und["dst"] == b["_mid"])
        .filter(F.col("w") != F.col("src"))
        .select(F.col("src").alias("node"), "w")
        .distinct()
    )
    direct = und.select(F.col("src").alias("node"), F.col("dst").alias("w"))
    strict2 = two.join(direct, ["node", "w"], "left_anti")
    n2 = strict2.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    joined = deg.join(n2, "node", "left").select(
        "node",
        F.col("d").alias("n_dist1"),
        F.coalesce(F.col("n2"), F.lit(0)).cast("bigint").alias("n_dist2"),
    )
    key = (2 * F.col("n_dist1") + F.col("n_dist2")).cast("bigint")
    return (
        joined.withColumn("h2_x2", key)
        .orderBy(F.col("h2_x2").desc(), "node")
        .limit(G12_TOP)
        .select(
            "node",
            "n_dist1",
            "n_dist2",
            "h2_x2",
            fround(F.col("h2_x2").cast("double") / 2, 1).alias("harmonic_r2"),
        )
    )


# ---------------------------------------------------------------------------
# g13 — HITS hubs & authorities (Kleinberg 1999), two statically-unrolled
# iterations on the DIRECTED supplier -> customer edge set (round 8)
# ---------------------------------------------------------------------------

_HITS_TOP = 15


@query(
    "g13_hits_scores",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    a0 AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY c),
    h1 AS (
        SELECT e.s, CAST(SUM(a0.a) AS BIGINT) AS h
        FROM e JOIN a0 USING (c) GROUP BY e.s
    ),
    a2 AS (
        SELECT e.c, CAST(SUM(h1.h) AS BIGINT) AS a
        FROM e JOIN h1 USING (s) GROUP BY e.c
    ),
    h2 AS (
        SELECT e.s, CAST(SUM(a2.a) AS BIGINT) AS h
        FROM e JOIN a2 USING (c) GROUP BY e.s
    ),
    ranked AS (
        SELECT 'authority' AS side, c AS node_key, a AS score,
               ROW_NUMBER() OVER (ORDER BY a DESC, c) AS rn
        FROM a2
        UNION ALL
        SELECT 'hub' AS side, s AS node_key, h AS score,
               ROW_NUMBER() OVER (ORDER BY h DESC, s) AS rn
        FROM h2
    )
    SELECT side, CAST(node_key AS BIGINT) AS node_key,
           CAST(score AS BIGINT) AS score, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= {_HITS_TOP}
    """,
    doc="HITS hubs and authorities (Kleinberg 1999) on the DIRECTED "
    "supplier->customer transaction graph — the bipartite complement "
    "to g01/g02's PageRank on the symmetrized graph: suppliers are "
    "hubs (good hubs ship to many well-bought-from customers), "
    "customers are authorities. Two power iterations statically "
    "unrolled (a0 = indegree, h1 = E a0, a2 = E^T h1, h2 = E a2); "
    "because the un-normalized HITS update is a pure integer sum, "
    "every score is EXACT BIGINT arithmetic — no quantization needed "
    "at all, the only graph query in the battery with that property "
    "(g02 needs 1e-12 quantization because PageRank divides by "
    f"outdegree). Top-{_HITS_TOP} per side with key tiebreak — cut "
    "via orderBy().limit() so Catalyst plans TakeOrderedAndProject "
    "and the rank window only ever sees the cut rows. Scale: each "
    "iteration is one edge equi-join + groupBy (the Pregel step), "
    "shuffle bounded by |E|; scores grow ~|E|^2 per round so two "
    "unrolled rounds stay far inside int64 for any realistic degree "
    "distribution (normalize before round 3+ at 100 TB).",
)
def g13_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # r12 (guide §2.4): the bipartite edge frame feeds every unrolled
    # HITS step (4 subtrees) and a2 feeds both the authority readout
    # and the h2 step — lazy persists raced and re-ran the
    # lineitem⋈orders distinct per consumer. Scratch-tier builds.
    e = tier(
        lambda li, o: li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct(),
        li,
        o,
    )
    a0 = e.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    h1 = e.join(a0, "c").groupBy("s").agg(F.sum("a").cast("bigint").alias("h"))
    a2 = tier(
        lambda e, h1: e.join(h1, "s").groupBy("c").agg(F.sum("h").cast("bigint").alias("a")),
        e,
        h1,
    )
    h2 = e.join(a2, "c").groupBy("s").agg(F.sum("a").cast("bigint").alias("h"))
    # TakeOrderedAndProject cut FIRST; the single-partition rank window
    # then only ever sees _HITS_TOP rows
    auth = (
        a2.orderBy(F.col("a").desc(), F.col("c"))
        .limit(_HITS_TOP)
        .select(
            F.lit("authority").alias("side"),
            F.col("c").cast("bigint").alias("node_key"),
            F.col("a").alias("score"),
            F.row_number().over(W.orderBy(F.col("a").desc(), F.col("c"))).alias("rn"),
        )
    )
    hubs = (
        h2.orderBy(F.col("h").desc(), F.col("s"))
        .limit(_HITS_TOP)
        .select(
            F.lit("hub").alias("side"),
            F.col("s").cast("bigint").alias("node_key"),
            F.col("h").alias("score"),
            F.row_number().over(W.orderBy(F.col("h").desc(), F.col("s"))).alias("rn"),
        )
    )
    return auth.unionAll(hubs)


# ---------------------------------------------------------------------------
# x15 — hash-rate sampled quantiles with an exact-quantile error audit
# (round 9): the mergeable uniform-sample summary, graded against the
# q93 value-grid fences it approximates
# ---------------------------------------------------------------------------

_X15_M = 2147483647  # 2^31 - 1 (MINSTD modulus)
_X15_A = 48271  # MINSTD multiplier; (key % M) * A < 2^47 stays in int64
_X15_RATE = 16  # keep keys whose scrambled hash % 16 == 0 (~6.25%)


@query(
    "x15_sample_quantiles",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS pri,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS v,
               CASE WHEN ((o_orderkey % {_X15_M}) * {_X15_A})
                        % {_X15_M} % {_X15_RATE} = 0
                    THEN 1 ELSE 0 END AS in_s
        FROM orders
    ),
    vals AS (
        SELECT pri, v,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(in_s) AS BIGINT) AS cnt_s
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT pri, v, cnt, cnt_s,
               SUM(cnt) OVER (PARTITION BY pri ORDER BY v) AS cum,
               SUM(cnt_s) OVER (PARTITION BY pri ORDER BY v) AS cum_s,
               SUM(cnt) OVER (PARTITION BY pri) AS n,
               SUM(cnt_s) OVER (PARTITION BY pri) AS n_s
        FROM vals
    )
    SELECT pri,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MAX(n_s) AS BIGINT) AS n_sample,
           CAST(MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END) AS BIGINT)
               AS p50_exact,
           CAST(MIN(CASE WHEN n_s > 0 AND cum_s >= (50 * n_s + 99) // 100 THEN v END)
               AS BIGINT) AS p50_est,
           CAST(MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN v END) AS BIGINT)
               AS p90_exact,
           CAST(MIN(CASE WHEN n_s > 0 AND cum_s >= (90 * n_s + 99) // 100 THEN v END)
               AS BIGINT) AS p90_est,
           CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN v END) AS BIGINT)
               AS p99_exact,
           CAST(MIN(CASE WHEN n_s > 0 AND cum_s >= (99 * n_s + 99) // 100 THEN v END)
               AS BIGINT) AS p99_est
    FROM cum
    GROUP BY pri
    """,
    doc="Quantile estimation from a deterministic hash-rate sample, "
    "audited against the exact fences it approximates: keep the orders "
    f"whose MINSTD-scrambled o_orderkey lands in 1/{_X15_RATE} of hash "
    "space (coordinated 'mod-M' sampling, the min-wise/bottom-k family "
    "of Broder 1997 / Cohen 1997 — the summary is MERGEABLE: a union "
    "of per-partition samples IS the sample of the union, and two "
    "tables sampled on the same key hash stay join-compatible), then "
    "read p50/p90/p99 per order priority from the sample's value grid "
    "beside the exact population fences (q93's integer ceil-division "
    "discipline on the DOLLAR grid, which the price RANGE bounds "
    "regardless of row count). The sample membership bit is exact "
    "int64 arithmetic in both engines, so sample quantiles hash-match "
    "— the readout shows the estimate bracketing the exact fence per "
    "priority, the audit a sampling design needs before anyone trusts "
    "it at 100 TB (where the exact side of this query is the one you "
    "can no longer afford to run per-slice). Scale: one map-side-"
    "combinable (priority, dollar) rollup carries BOTH counters; the "
    "cumulative window walks the bounded dollar grid; 5 output rows.",
)
def x15_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice")).cast("bigint").alias("v"),
        F.when(
            ((F.col("o_orderkey") % _X15_M) * _X15_A) % _X15_M % _X15_RATE == 0,
            1,
        )
        .otherwise(0)
        .alias("in_s"),
    )
    vals = o.groupBy("pri", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("in_s").cast("bigint").alias("cnt_s"),
    )
    wc = W.partitionBy("pri").orderBy("v")
    wn = W.partitionBy("pri")
    cum = vals.select(
        "pri",
        "v",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt_s").over(wc).alias("cum_s"),
        F.sum("cnt").over(wn).alias("n"),
        F.sum("cnt_s").over(wn).alias("n_s"),
    )

    def fence(pct: int, cum_col: str, n_col: str, name: str):
        thr = F.expr(f"({pct} * {n_col} + 99) div 100")
        guard = (F.col(n_col) > 0) & (F.col(cum_col) >= thr)
        return F.min(F.when(guard, F.col("v"))).cast("bigint").alias(name)

    return cum.groupBy("pri").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.max("n_s").cast("bigint").alias("n_sample"),
        fence(50, "cum", "n", "p50_exact"),
        fence(50, "cum_s", "n_s", "p50_est"),
        fence(90, "cum", "n", "p90_exact"),
        fence(90, "cum_s", "n_s", "p90_est"),
        fence(99, "cum", "n", "p99_exact"),
        fence(99, "cum_s", "n_s", "p99_est"),
    )


# ---------------------------------------------------------------------------
# x16 — priority sampling: the weighted-sample subset-sum estimator
# (Duffield–Lund–Thorup), audited against the exact totals (round 9)
# ---------------------------------------------------------------------------

_X16_K = 64  # sample size per group
_X16_M = 2147483647
_X16_A = 48271


@query(
    "x16_priority_sample_totals",
    oracle=f"""
    WITH items AS (
        SELECT l_returnflag AS flag,
               l_orderkey * 10 + l_linenumber AS key,
               CAST(FLOOR(l_extendedprice) AS BIGINT) + 1 AS w
        FROM lineitem
    ),
    pri AS (
        SELECT flag, key, w,
               CAST(w AS DOUBLE) * {_X16_M}
                   / (((key % {_X16_M}) * {_X16_A}) % {_X16_M} + 1) AS p
        FROM items
    ),
    ranked AS (
        SELECT flag, key, w, p,
               ROW_NUMBER() OVER (PARTITION BY flag
                                  ORDER BY p DESC, key) AS rn
        FROM pri
    ),
    tau AS (
        SELECT flag, MAX(CASE WHEN rn = {_X16_K} + 1 THEN p END) AS t
        FROM ranked WHERE rn <= {_X16_K} + 1 GROUP BY flag
    ),
    est AS (
        -- COALESCE(tau.t, 0.0) mirrors priority_estimate's
        -- F.coalesce('t', lit(0.0)): with <= k items in a group the
        -- (k+1)-th priority is absent, tau is NULL, and the estimate
        -- must degrade to the EXACT sum of weights, not NULL.
        SELECT r.flag,
               SUM(CAST(FLOOR(
                   CASE WHEN CAST(r.w AS DOUBLE) > COALESCE(tau.t, 0.0)
                        THEN CAST(r.w AS DOUBLE)
                        ELSE COALESCE(tau.t, 0.0) END
                   * 1000.0 + 0.5) AS HUGEINT)) AS sq
        FROM ranked r JOIN tau ON tau.flag = r.flag
        WHERE r.rn <= {_X16_K}
        GROUP BY r.flag
    ),
    exact AS (
        SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(w) AS BIGINT) AS exact_total
        FROM items GROUP BY flag
    )
    SELECT e.flag, e.n_items, e.exact_total,
           ROUND(CAST(est.sq AS DOUBLE) / 1000.0, 3) AS est_total,
           ROUND((CAST(est.sq AS DOUBLE) / 1000.0 - e.exact_total)
                 / e.exact_total, 6) AS rel_err
    FROM exact e JOIN est ON est.flag = e.flag
    """,
    doc="Priority sampling (Duffield, Lund & Thorup 2007 — the "
    f"variance-optimal weighted sample): per return flag, keep the "
    f"{_X16_K} line items with the largest priority w/u (u = a "
    "deterministic MINSTD hash mapped to (0,1], so both engines draw "
    "the SAME 'randomness'), set tau to the (k+1)-th priority, and "
    "estimate the group's total dollars as sum(max(w, tau)) over the "
    "sample — the estimator is unbiased for ANY subset sum, which is "
    "what makes it the sketch of choice for 'total spend of slice X "
    "from a 64-row sample' questions at 100 TB. The audit reads the "
    "estimate beside the exact group total and the signed relative "
    "error. Engine discipline: priorities are the identical IEEE "
    "division of exact int64 products (w*M stays under 2^53), "
    "max(w, tau) terms quantize to 1e-3 BEFORE the k-term sum in "
    "DECIMAL(38,0)/HUGEINT (tau can reach w*M/small-h scale, so the "
    "quantized grid must carry >int64 headroom), and the display "
    "division happens once. Scale: the rank window shuffles on flag "
    "(3 groups; at production grain the group key is the slice key), "
    "everything after rn <= k+1 is k-row bounded; 3 output rows. "
    "Caveat carried with the sketch: the DLT variance bound assumes "
    "INDEPENDENT uniforms per item — rows sharing a key share their "
    "MINSTD uniform (this corpus's (orderkey, linenumber) pairs do "
    "collide), so duplicates enter the sample together; a production "
    "deployment salts the key to full row grain.",
)
def x16_priority_sample_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME operators/sketch core the streaming priority-sample
    # store folds through — one source of truth for the sketch math
    from ..operators.sketch import priority_estimate, priority_sample

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("key"),
        (F.floor(F.col("l_extendedprice")).cast("bigint") + 1).alias("w"),
    )
    est = priority_estimate(priority_sample(li, "flag", "key", "w", _X16_K))
    exact = li.groupBy(F.col("flag").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("w").cast("bigint").alias("exact_total"),
    )
    return exact.join(F.broadcast(est), "grp").select(
        F.col("grp").alias("flag"),
        "n_items",
        "exact_total",
        fround(F.col("est_total"), 3).alias("est_total"),
        fround(
            (F.col("est_total") - F.col("exact_total")) / F.col("exact_total"), 6
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# x17 — join-size estimation from two CMS sketches (round 9): the
# query-optimizer readout, audited against the exact join size
# ---------------------------------------------------------------------------

_X17_UID = "CAST(user_id AS VARCHAR)"
_SQL_BUCKET_U = sql_portable_bucket(_X17_UID, "d.d", CMS_P_WIDTH)


@query(
    "x17_cms_join_size",
    oracle=f"""
    WITH a AS (SELECT user_id FROM events WHERE event_type = 'view'),
    b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
    d AS (SELECT unnest(range({CMS_P_DEPTH})) AS d),
    ga AS (
        SELECT d.d AS depth, {_SQL_BUCKET_U} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS ca
        FROM a CROSS JOIN d GROUP BY 1, 2
    ),
    gb AS (
        SELECT d.d AS depth, {_SQL_BUCKET_U} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cb
        FROM b CROSS JOIN d GROUP BY 1, 2
    ),
    est AS (
        SELECT ga.depth, CAST(SUM(ga.ca * gb.cb) AS BIGINT) AS e
        FROM ga JOIN gb ON gb.depth = ga.depth AND gb.bucket = ga.bucket
        GROUP BY 1
    ),
    exact AS (
        SELECT CAST(SUM(av.c * bv.c) AS BIGINT) AS j
        FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM a GROUP BY 1) av
        JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1) bv
          ON bv.user_id = av.user_id
    )
    SELECT exact.j AS exact_join_size,
           CAST(MIN(est.e) AS BIGINT) AS est_join_size,
           ROUND(CAST(MIN(est.e) AS DOUBLE) / exact.j, 6) AS over_ratio
    FROM est CROSS JOIN exact
    GROUP BY exact.j
    """,
    doc="Equi-join size estimation from two count-min sketches — the "
    "number a query optimizer wants BEFORE running the join: |A ⋈ B "
    "on user_id| = sum_u f_A(u)·f_B(u), estimated as min over the "
    f"{CMS_P_DEPTH} shared-hash depths of the bucket-wise dot product "
    "of the two sketch grids (the CMS inner-product estimator, "
    "Cormode & Muthukrishnan 2005 §4.2 — a one-sided OVERestimate, "
    "like the point estimator), audited against the exact join size "
    "on the same event streams (views ⋈ purchases per user: the "
    "self-join every attribution query here pays). Everything is "
    "exact integer arithmetic on the engine-portable hash family "
    f"(x05's {CMS_P_DEPTH}x{CMS_P_WIDTH} grid), so the estimate — "
    "not a float approximation of it — is under the hash gate, and "
    "over_ratio reads the estimator's slack at this width. Scale: "
    "TWO fixed-size sketch grids replace the user-grain join; the "
    "sketches are mergeable (bucket-wise adds) so each side can be "
    "sketched where it lives; the exact side is the audit you stop "
    "running at 100 TB. 1 output row.",
)
def x17_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_build_portable

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").cast("string").alias("uid")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("string").alias("uid")
    )
    ga = cms_build_portable(a, "uid", CMS_P_DEPTH, CMS_P_WIDTH).select(
        "depth", "bucket", F.col("cnt").alias("ca")
    )
    gb = cms_build_portable(b, "uid", CMS_P_DEPTH, CMS_P_WIDTH).select(
        "depth", "bucket", F.col("cnt").alias("cb")
    )
    est = (
        ga.join(gb, ["depth", "bucket"])
        .groupBy("depth")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("e"))
        .agg(F.min("e").cast("bigint").alias("est"))
    )
    av = a.groupBy("uid").agg(F.count(F.lit(1)).cast("bigint").alias("c_a"))
    bv = b.groupBy("uid").agg(F.count(F.lit(1)).cast("bigint").alias("c_b"))
    exact = (
        av.join(bv, "uid")
        .agg(F.sum(F.col("c_a") * F.col("c_b")).cast("bigint").alias("j"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("j").alias("exact_join_size"),
        F.col("est").alias("est_join_size"),
        fround(F.col("est").cast("double") / F.col("j"), 6).alias("over_ratio"),
    )


# ---------------------------------------------------------------------------
# x18 — CMS-driven broadcast-vs-shuffle decision (round 10): x17's
# join-size estimator wired into the optimizer-facing strategy pick
# ---------------------------------------------------------------------------

X18_DEPTH, X18_WIDTH = 3, 8192  # wider grid than x05/x17: join-size
# estimates feed a DECISION, so the inner-product collision term
# n_a*n_b/width must sit well under the exact size at the test tiers
X18_ROW_BYTES = 128  # documented per-row byte proxy for the build side
X18_BCAST_BYTES = 131072  # 128 KiB — a scaled-down stand-in for
# Spark's 10 MB autoBroadcastJoinThreshold, chosen so the sf0.001 /
# sf0.01 tiers exercise BOTH branches (nation/supplier broadcast,
# orders shuffle) instead of degenerating to one label

# (dim table, fact table, dim key, fact key) — the star-schema joins
# every TPC-H-shaped query here pays, smallest build side first
_X18_PAIRS = (
    ("nation", "customer", "n_nationkey", "c_nationkey"),
    ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
    ("customer", "orders", "c_custkey", "o_custkey"),
    ("part", "lineitem", "p_partkey", "l_partkey"),
    ("orders", "lineitem", "o_orderkey", "l_orderkey"),
)


def _x18_pair_sql(dim: str, fact: str, dkey: str, fkey: str) -> str:
    bucket_d = sql_portable_bucket(f"CAST({dkey} AS VARCHAR)", "d.d", X18_WIDTH)
    bucket_f = sql_portable_bucket(f"CAST({fkey} AS VARCHAR)", "d.d", X18_WIDTH)
    return f"""
    SELECT '{dim}_x_{fact}' AS pair,
           br.n AS build_rows,
           br.n * {X18_ROW_BYTES} AS build_bytes_est,
           exact.j AS exact_join_size,
           est.e AS est_join_size,
           ROUND(CAST(est.e AS DOUBLE) / exact.j, 6) AS over_ratio,
           CASE WHEN br.n * {X18_ROW_BYTES} <= {X18_BCAST_BYTES}
                THEN 'broadcast' ELSE 'shuffle' END AS strategy
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {dim}) br
    CROSS JOIN (
        SELECT CAST(MIN(e) AS BIGINT) AS e FROM (
            SELECT CAST(SUM(ga.c * gb.c) AS BIGINT) AS e
            FROM (SELECT d.d AS depth, {bucket_d} AS bucket,
                         CAST(COUNT(*) AS BIGINT) AS c
                  FROM {dim},
                       (SELECT unnest(range({X18_DEPTH})) AS d) d
                  GROUP BY 1, 2) ga
            JOIN (SELECT d.d AS depth, {bucket_f} AS bucket,
                         CAST(COUNT(*) AS BIGINT) AS c
                  FROM {fact},
                       (SELECT unnest(range({X18_DEPTH})) AS d) d
                  GROUP BY 1, 2) gb
              ON gb.depth = ga.depth AND gb.bucket = ga.bucket
            GROUP BY ga.depth
        )
    ) est
    CROSS JOIN (
        SELECT CAST(SUM(av.c * bv.c) AS BIGINT) AS j
        FROM (SELECT {dkey} AS k, CAST(COUNT(*) AS BIGINT) AS c
              FROM {dim} GROUP BY 1) av
        JOIN (SELECT {fkey} AS k, CAST(COUNT(*) AS BIGINT) AS c
              FROM {fact} GROUP BY 1) bv ON bv.k = av.k
    ) exact
    """


@query(
    "x18_cms_broadcast_decision",
    oracle=" UNION ALL ".join(
        _x18_pair_sql(*p) for p in _X18_PAIRS
    ),
    doc="The x17 estimator promoted to a DECISION: for every star-"
    "schema join this engine runs (nation->customer, supplier/part/"
    "orders->lineitem, customer->orders), estimate the join output "
    "size as the CMS inner product (Cormode & Muthukrishnan 2005 "
    f"S4.2, {X18_DEPTH}x{X18_WIDTH} portable grid — wider than x05's "
    "so the collision term n_a*n_b/width stays well under the exact "
    "size) and pick the physical strategy the way Spark's planner "
    "does with statistics: broadcast when build_rows x "
    f"{X18_ROW_BYTES} B fits under the {X18_BCAST_BYTES} B threshold "
    "(a scaled-down stand-in for the 10 MB default so the test tiers "
    "exercise both branches), shuffle otherwise "
    "(operators/sketch.broadcast_decision — the same helper a "
    "statistics-free ingest would call on sketch-derived counts; "
    "tests pin that the decision FLIPS exactly at the threshold). "
    "exact_join_size audits the estimate (over_ratio = slack); at "
    "100 TB the exact side is dropped and the sketches — mergeable, "
    "built where each side lives — are all the planner sees. Scale: "
    "two fixed-size grids per pair replace key-grain joins; one "
    "output row per candidate join.",
)
def x18_cms_broadcast_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..operators.sketch import broadcast_decision, cms_build_portable

    # r12 optimization (guide §2.3 "aggregate before you shuffle" /
    # §2.4): the first draft built a separate plan subtree per star
    # join — 5 pairs x (2 grid builds + est join + exact join + a
    # count + 2 broadcast exchanges) ≈ 25 stages of fixed scheduling
    # overhead, 5.1 s solo at sf0.1 for KB of data. Now all five
    # candidate pairs batch through ONE pair-tagged grid build per
    # side (cms_build_portable group_cols), ONE (pair, depth, bucket)
    # est join, ONE (pair, key) exact join, and the build-side row
    # count folds out of the exact rollup (n = SUM c_a) instead of its
    # own aggregate. Identical integer arithmetic per pair — the
    # oracle is unchanged.
    dims, facts = [], []
    for dim, fact, dkey, fkey in _X18_PAIRS:
        tag = F.lit(f"{dim}_x_{fact}").alias("pair")
        dims.append(
            load_table(spark, sf_dir, dim).select(
                tag, F.col(dkey).cast("string").alias("k")
            )
        )
        facts.append(
            load_table(spark, sf_dir, fact).select(
                tag, F.col(fkey).cast("string").alias("k")
            )
        )
    dall = reduce(lambda a, b: a.unionByName(b), dims)
    fall = reduce(lambda a, b: a.unionByName(b), facts)
    ga = cms_build_portable(dall, "k", X18_DEPTH, X18_WIDTH, group_cols=("pair",)).select(
        "pair", "depth", "bucket", F.col("cnt").alias("ca")
    )
    gb = cms_build_portable(fall, "k", X18_DEPTH, X18_WIDTH, group_cols=("pair",)).select(
        "pair", "depth", "bucket", F.col("cnt").alias("cb")
    )
    est = (
        ga.join(gb, ["pair", "depth", "bucket"])
        .groupBy("pair", "depth")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("e"))
        .groupBy("pair")
        .agg(F.min("e").cast("bigint").alias("e"))
    )
    av = dall.groupBy("pair", "k").agg(F.count(F.lit(1)).cast("bigint").alias("c_a"))
    bv = fall.groupBy("pair", "k").agg(F.count(F.lit(1)).cast("bigint").alias("c_b"))
    exact = av.join(bv, ["pair", "k"]).groupBy("pair").agg(
        F.sum(F.col("c_a") * F.col("c_b")).cast("bigint").alias("j")
    )
    nper = av.groupBy("pair").agg(F.sum("c_a").cast("bigint").alias("n"))
    # LEFT joins (ADVICE r12): a pair whose key-intersection is empty
    # has no est/exact row; the pre-r12 per-pair scalar subqueries
    # emitted NULL sizes for it and the row must survive. Unreachable
    # for the TPC-H FK pairs benched here — degenerate-input parity.
    return (
        nper.join(F.broadcast(est), "pair", "left")
        .join(F.broadcast(exact), "pair", "left")
        .select(
            "pair",
            F.col("n").alias("build_rows"),
            (F.col("n") * X18_ROW_BYTES).alias("build_bytes_est"),
            F.col("j").alias("exact_join_size"),
            F.col("e").alias("est_join_size"),
            fround(F.col("e").cast("double") / F.col("j"), 6).alias("over_ratio"),
            broadcast_decision(F.col("n"), X18_ROW_BYTES, X18_BCAST_BYTES).alias(
                "strategy"
            ),
        )
    )


# ---------------------------------------------------------------------------
# g14 — per-edge triangle support histogram (round 10): the k-truss
# readout over the co-purchase projection — g04 counts triangles per
# NODE; support counts them per EDGE, the quantity truss decomposition
# and strong-tie detection actually peel on
# ---------------------------------------------------------------------------


@query(
    "g14_triangle_support",
    oracle=f"""
    WITH co AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= {G04_MIN_QTY}
    ),
    ed AS (
        SELECT a.s AS u, b.s AS v
        FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s HAVING COUNT(*) >= {G04_MIN_SHARED}
    ),
    deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM ed UNION ALL SELECT v AS node FROM ed)
        GROUP BY node
    ),
    ori AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
        FROM ed e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM ori e1 JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst
        JOIN ed e3 ON e3.u = e1.dst AND e3.v = e2.dst
    ),
    tri_edges AS (
        SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM tri
        UNION ALL SELECT LEAST(a, c), GREATEST(a, c) FROM tri
        UNION ALL SELECT b, c FROM tri
    ),
    sup AS (
        SELECT e.u, e.v, CAST(COUNT(t.u) AS BIGINT) AS support
        FROM ed e LEFT JOIN tri_edges t ON t.u = e.u AND t.v = e.v
        GROUP BY e.u, e.v
    )
    SELECT support,
           CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM sup
    GROUP BY support
    """,
    doc="Per-edge triangle-support histogram over the thresholded "
    "supplier co-purchase projection — the k-truss readout (Cohen "
    "2008): an edge with support s survives into the (s+2)-truss, so "
    "this histogram IS the truss-decomposition profile (support-0 "
    "edges are weak ties no triangle reinforces; the high-support "
    "tail is the cohesive core g06's k-core only approximates). g04 "
    "aggregates the same triangles per NODE; this explodes each "
    "triangle's three CANONICAL edges instead "
    "(operators/graph.edge_triangle_support) and left-joins back to "
    "the edge list so zero-support edges are counted. Same "
    "degree-orientation wedge plan as g04 (Suri & Vassilvitskii "
    "WWW'11) — oriented out-degree O(sqrt(m)) bounds the wedge "
    "fanout; the histogram output is support-bounded, a few dozen "
    "rows regardless of graph size.",
)
def g14_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import edge_triangle_support

    edges = copurchase_edges(spark, sf_dir)
    sup = edge_triangle_support(edges)
    return sup.groupBy("support").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    )


# ---------------------------------------------------------------------------
# g15 — k-truss peel trajectory (round 10): g14 measures per-edge
# support once; the truss decomposition PEELS on it — drop edges whose
# support falls below k-2, recompute, repeat. Two statically-unrolled
# rounds (the g06/g03 pattern that keeps the fixpoint SQL-expressible)
# ---------------------------------------------------------------------------

G15_K = 3  # 3-truss: every surviving edge needs support >= 1


def _g15_support_ctes(ed: str, pfx: str) -> str:
    """CTE chain computing per-edge triangle support over edge set
    ``ed`` (canonical u < v), emitting ``{pfx}sup`` — the same
    degree-orientation wedge plan as g04/g14, parametrized so the
    unrolled peel rounds can reuse it verbatim."""
    return f"""
    {pfx}deg AS MATERIALIZED (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM {ed} UNION ALL SELECT v AS node FROM {ed})
        GROUP BY node
    ),
    {pfx}ori AS MATERIALIZED (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
        FROM {ed} e JOIN {pfx}deg du ON du.node = e.u
        JOIN {pfx}deg dv ON dv.node = e.v
    ),
    {pfx}tri AS MATERIALIZED (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM {pfx}ori e1 JOIN {pfx}ori e2
          ON e1.src = e2.src AND e1.dst < e2.dst
        JOIN {ed} e3 ON e3.u = e1.dst AND e3.v = e2.dst
    ),
    {pfx}te AS (
        SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM {pfx}tri
        UNION ALL SELECT LEAST(a, c), GREATEST(a, c) FROM {pfx}tri
        UNION ALL SELECT b, c FROM {pfx}tri
    ),
    {pfx}sup AS MATERIALIZED (
        SELECT e.u, e.v, CAST(COUNT(t.u) AS BIGINT) AS support
        FROM {ed} e LEFT JOIN {pfx}te t ON t.u = e.u AND t.v = e.v
        GROUP BY e.u, e.v
    )"""


@query(
    "g15_truss_peel",
    oracle=f"""
    WITH co AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= {G04_MIN_QTY}
    ),
    ed AS MATERIALIZED (
        SELECT a.s AS u, b.s AS v
        FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s HAVING COUNT(*) >= {G04_MIN_SHARED}
    ),
    {_g15_support_ctes("ed", "r1")},
    ed2 AS MATERIALIZED (SELECT u, v FROM r1sup WHERE support >= {G15_K - 2}),
    {_g15_support_ctes("ed2", "r2")},
    ed3 AS MATERIALIZED (SELECT u, v FROM r2sup WHERE support >= {G15_K - 2})
    SELECT * FROM (
        SELECT 1 AS round,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS edges_in,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ed2) AS edges_alive,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ed)
                   - (SELECT CAST(COUNT(*) AS BIGINT) FROM ed2) AS dropped
        UNION ALL
        SELECT 2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ed2),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ed3),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ed2)
                   - (SELECT CAST(COUNT(*) AS BIGINT) FROM ed3)
        ) t
    """,
    doc=f"{G15_K}-truss peel trajectory over the supplier co-purchase "
    "projection: two statically-unrolled rounds of drop-edges-with-"
    f"support < {G15_K - 2}, recompute support, repeat (Cohen 2008's "
    "truss decomposition; the g06 unrolling pattern keeps the "
    "fixpoint hash-checkable) — round counts (edges_in, edges_alive, "
    "dropped) ARE the peel trajectory: a second-round drop > 0 would "
    "mean removing a weak edge destroyed triangles supporting OTHER "
    "edges (on this projection the peel CONVERGES after round 1 — "
    "dropped=0 in round 2 is the verified fixpoint certificate, not "
    "a vacuous row). Each round is the same degree-orientation wedge plan as "
    "g04/g14 (operators/graph.edge_triangle_support on the Spark "
    "side), so per-round cost is bounded by oriented out-degree "
    "O(sqrt(m)) wedge fanout; production would iterate to fixpoint "
    "with operators/graph-style convergence detection, same "
    "per-round plan. 2 rows out.",
)
def g15_truss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import edge_triangle_support

    # Both rounds' counts come from the two SUPPORT frames directly
    # (c0 and c1 are one aggregate over sup1; c2 one over sup2), so the
    # wedge machinery runs exactly twice — never re-executed per count.
    alive = F.col("support") >= G15_K - 2
    # localCheckpoint (the operators/graph round discipline, NOT just
    # persist): round 2's wedge plan references ed2 four times — a flat
    # materialized frame keeps Catalyst from re-deriving the whole
    # projection + round-1 chain per reference.
    edges = copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    sup1 = edge_triangle_support(edges).localCheckpoint(eager=False)
    ed2 = sup1.filter(alive).select("u", "v").localCheckpoint(eager=False)
    sup2 = edge_triangle_support(ed2)
    agg1 = sup1.agg(
        F.count(F.lit(1)).cast("bigint").alias("c0"),
        F.sum(F.when(alive, 1).otherwise(0)).cast("bigint").alias("c1"),
    )
    agg2 = sup2.agg(
        F.sum(F.when(alive, 1).otherwise(0)).cast("bigint").alias("c2")
    )
    base = agg1.crossJoin(F.broadcast(agg2)).persist()
    r1 = base.select(
        F.lit(1).alias("round"),
        F.col("c0").alias("edges_in"),
        F.col("c1").alias("edges_alive"),
        (F.col("c0") - F.col("c1")).alias("dropped"),
    )
    r2 = base.select(
        F.lit(2).alias("round"),
        F.col("c1").alias("edges_in"),
        F.col("c2").alias("edges_alive"),
        (F.col("c1") - F.col("c2")).alias("dropped"),
    )
    return r1.unionByName(r2)


# ---------------------------------------------------------------------------
# x20 — CMS error-envelope audit (round 10): x05 shows the estimates;
# this GRADES the sketch against its own theoretical guarantee — for
# every vocabulary token, err = est − exact is within ceil(e·N/width)
# with probability >= 1 − e^−depth, and the audit measures how much of
# that envelope the real stream actually uses
# ---------------------------------------------------------------------------


@query(
    "x20_cms_error_envelope",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
            AS token
        FROM documents
    ),
    exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM toks GROUP BY token
    ),
    n AS (SELECT CAST(SUM(exact_cnt) AS BIGINT) AS n FROM exact),
    grid AS (
        SELECT d.d AS depth, {_SQL_BUCKET_T} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks, (SELECT unnest(generate_series(0, {CMS_P_DEPTH - 1})) AS d) d
        GROUP BY 1, 2
    ),
    est AS (
        SELECT token, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est
        FROM (
            SELECT e.token, d.d AS depth, {_SQL_BUCKET_E} AS bucket
            FROM exact e,
                 (SELECT unnest(generate_series(0, {CMS_P_DEPTH - 1})) AS d) d
        ) p LEFT JOIN grid USING (depth, bucket)
        GROUP BY token
    ),
    errs AS (
        SELECT e.token, est - exact_cnt AS err
        FROM exact e JOIN est USING (token)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM errs) AS n_tokens,
           n.n AS stream_len,
           CAST(FLOOR(exp(1.0) * n.n / {CMS_P_WIDTH}) AS BIGINT) AS bound,
           (SELECT CAST(MAX(err) AS BIGINT) FROM errs) AS max_err,
           (SELECT CAST(SUM(err) AS BIGINT) FROM errs) AS total_err,
           (SELECT CAST(SUM(CASE WHEN CAST(err AS DOUBLE)
                    <= exp(1.0) * n.n / {CMS_P_WIDTH} THEN 1 ELSE 0 END)
               AS BIGINT) FROM errs) AS n_within_bound
    FROM n
    """,
    doc="CMS error-envelope audit over the FULL token vocabulary: for "
    "every token, err = cms_est − exact (nonnegative by "
    "construction), graded against the Cormode–Muthukrishnan "
    "guarantee err <= e·N/width with probability >= 1 − e^−depth per "
    "probe. x05 reports the estimates; this reports how much of the "
    "theoretical envelope the stream actually consumes (max_err and "
    "total_err vs the bound) — the reading that decides whether a "
    "narrower grid would do, the same budget question x18 answers "
    "for join sizing. The sketch-build and probe path are the exact "
    "x05 portable-hash pipeline (same grid CTEs), so the whole audit "
    "is hash-checked; the only transcendental is exp(1.0), evaluated "
    "identically by both engines into one floor'd bound. Scale: the "
    "grid fold is the one stream-sized stage (map-side combinable); "
    "the probe join is vocab-sized; output is one row.",
)
def x20_cms_error_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_build_portable, cms_estimate_portable

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("token")
    )
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    n = exact.agg(F.sum("exact_cnt").cast("bigint").alias("n"))
    grid = cms_build_portable(toks, "token", CMS_P_DEPTH, CMS_P_WIDTH)
    est = cms_estimate_portable(
        grid, exact.select("token"), "token", CMS_P_DEPTH, CMS_P_WIDTH
    )
    errs = (
        exact.join(est, "token")
        .select((F.col("est") - F.col("exact_cnt")).alias("err"))
        .crossJoin(F.broadcast(n))
    )
    bound = F.exp(F.lit(1.0)) * F.col("n") / CMS_P_WIDTH
    return errs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.max("n").cast("bigint").alias("stream_len"),
        F.floor(F.max(bound)).cast("bigint").alias("bound"),
        F.max("err").cast("bigint").alias("max_err"),
        F.sum("err").cast("bigint").alias("total_err"),
        F.sum(F.when(F.col("err").cast("double") <= bound, 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_bound"),
    )


# ---------------------------------------------------------------------------
# x21 — theta-sketch INTERSECTION + Jaccard between audience pairs
# (round 10): x14 reports the difference (A∖B) side of the theta set
# algebra; this reports the overlap side — est |A∩B| and Jaccard from
# the SAME K-row union sketch, with the exact audit you stop running
# at 100 TB
# ---------------------------------------------------------------------------


@query(
    "x21_theta_intersection",
    oracle=f"""
    WITH aud AS (
        SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS uid
        FROM events
    ),
    hv AS (
        SELECT DISTINCT event_type, {_X14_H} AS hv FROM aud
    ),
    sk AS (
        SELECT event_type, hv FROM (
            SELECT event_type, hv,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
            FROM hv
        ) r WHERE rn <= {X14_K}
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    pr AS (SELECT a.event_type AS ta, b.event_type AS tb
           FROM types a JOIN types b ON a.event_type < b.event_type),
    m AS (
        SELECT pr.ta, pr.tb, s.hv,
               MAX(CASE WHEN s.event_type = pr.ta THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.event_type = pr.tb THEN 1 ELSE 0 END) AS in_b
        FROM pr JOIN sk s ON s.event_type IN (pr.ta, pr.tb)
        GROUP BY pr.ta, pr.tb, s.hv
    ),
    rk AS (
        SELECT ta, tb, in_a, in_b, hv,
               ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
        FROM m
    ),
    ag AS (
        SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS cnt, MAX(hv) AS kth,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
        FROM rk WHERE rn <= {X14_K} GROUP BY ta, tb
    ),
    ag2 AS (
        SELECT ta, tb, cnt, n_both,
               CASE WHEN cnt < {X14_K} THEN CAST(cnt AS DOUBLE)
                    ELSE CAST({X14_K - 1} AS DOUBLE) * {_X09_P} / kth
               END AS est_union
        FROM ag
    ),
    flags AS (
        SELECT pr.ta, pr.tb, a.uid,
               MAX(CASE WHEN a.event_type = pr.ta THEN 1 ELSE 0 END) AS has_a,
               MAX(CASE WHEN a.event_type = pr.tb THEN 1 ELSE 0 END) AS has_b
        FROM pr JOIN aud a ON a.event_type IN (pr.ta, pr.tb)
        GROUP BY pr.ta, pr.tb, a.uid
    ),
    ex AS (
        SELECT ta, tb,
               CAST(SUM(has_a * has_b) AS BIGINT) AS exact_inter,
               CAST(COUNT(*) AS BIGINT) AS exact_union
        FROM flags GROUP BY ta, tb
    )
    SELECT ag2.ta AS type_a, ag2.tb AS type_b, n_both,
           {sql_fround(
               f"CAST(n_both AS DOUBLE) / LEAST({X14_K}, cnt)", 6
           )} AS est_jaccard,
           {sql_fround(
               f"CAST(n_both AS DOUBLE) / LEAST({X14_K}, cnt) * est_union", 4
           )} AS est_intersection,
           exact_inter,
           {sql_fround(
               "CAST(exact_inter AS DOUBLE) / exact_union", 6
           )} AS exact_jaccard
    FROM ag2 JOIN ex ON ex.ta = ag2.ta AND ex.tb = ag2.tb
    """,
    doc="Theta-sketch audience INTERSECTION and Jaccard per event-type "
    "pair — the overlap side of the set algebra whose difference side "
    "x14 reports, from the SAME construction: per-type bottom-K KMV "
    "sketches merge into the pair's union sketch (K smallest of the "
    "union), membership flags ride along, and |A∩B| ≈ (n_both/K)·"
    "|A∪B|-hat (the standard theta intersection estimator: the union "
    "sketch is a uniform sample of A∪B, so the flagged fraction "
    "estimates the Jaccard, Dasgupta et al. 2016). The exact "
    "intersection/Jaccard audit runs beside it — the column you stop "
    "computing at 100 TB, where the K-row sketches (mergeable, built "
    "where each audience lives) are all that ships. All sketch-side "
    "quantities are exact integers on the portable hash family, so "
    "the ESTIMATE itself sits under the hash gate (x17's discipline). "
    "Scale: per-type K-row state, pair work bounded by types² x K; "
    "the audience scan is the only data-sized stage.",
)
def x21_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import kmv_hash

    e = load_table(spark, sf_dir, "events")
    aud = e.select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    ).distinct()
    hv = aud.select("event_type", kmv_hash(F.col("uid")).alias("hv")).distinct()
    sk = (
        hv.withColumn(
            "rn", F.row_number().over(W.partitionBy("event_type").orderBy("hv"))
        )
        .filter(F.col("rn") <= X14_K)
        .select("event_type", "hv")
    )
    types = e.select("event_type").distinct()
    pr = types.select(F.col("event_type").alias("ta")).join(
        types.select(F.col("event_type").alias("tb")), F.col("ta") < F.col("tb")
    )
    m = (
        F.broadcast(pr)
        .join(
            sk,
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb", "hv")
        .agg(
            F.max(F.when(F.col("event_type") == F.col("ta"), 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(F.col("event_type") == F.col("tb"), 1).otherwise(0)).alias(
                "in_b"
            ),
        )
    )
    rk = m.withColumn(
        "rn", F.row_number().over(W.partitionBy("ta", "tb").orderBy("hv"))
    ).filter(F.col("rn") <= X14_K)
    ag = rk.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.max("hv").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
    )
    est_union = F.when(
        F.col("cnt") < X14_K, F.col("cnt").cast("double")
    ).otherwise(F.lit(float(X14_K - 1)) * F.lit(float(_X09_P)) / F.col("kth"))
    ag2 = ag.withColumn("est_union", est_union)
    flags = (
        F.broadcast(pr)
        .join(
            aud,
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb", "uid")
        .agg(
            F.max(F.when(F.col("event_type") == F.col("ta"), 1).otherwise(0)).alias(
                "has_a"
            ),
            F.max(F.when(F.col("event_type") == F.col("tb"), 1).otherwise(0)).alias(
                "has_b"
            ),
        )
    )
    ex = flags.groupBy("ta", "tb").agg(
        F.sum(F.col("has_a") * F.col("has_b")).cast("bigint").alias("exact_inter"),
        F.count(F.lit(1)).cast("bigint").alias("exact_union"),
    )
    jac = F.col("n_both").cast("double") / F.least(F.lit(X14_K), F.col("cnt"))
    return (
        ag2.join(ex, ["ta", "tb"])
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "n_both",
            fround(jac, 6).alias("est_jaccard"),
            fround(jac * F.col("est_union"), 4).alias("est_intersection"),
            "exact_inter",
            fround(
                F.col("exact_inter").cast("double") / F.col("exact_union"), 6
            ).alias("exact_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# x22 — CMS-steered join audit (round 11): the x18 decision actually
# STEERING a physical plan, under the driver's hash gate
# ---------------------------------------------------------------------------

_X22_SQL_PARTS = []
for _dim, _fact, _dk, _fk in _X18_PAIRS:
    _X22_SQL_PARTS.append(
        f"""
    SELECT '{_dim}_x_{_fact}' AS pair,
           CASE WHEN (SELECT COUNT(*) FROM {_dim}) * {X18_ROW_BYTES}
                     <= {X18_BCAST_BYTES}
                THEN 'broadcast' ELSE 'shuffle' END AS strategy,
           CAST((SELECT COUNT(*) FROM {_dim} d
                 JOIN {_fact} f ON f.{_fk} = d.{_dk}) AS BIGINT) AS join_rows
    """
    )
_X22_SQL = " UNION ALL ".join(_X22_SQL_PARTS)


@query(
    "x22_cms_steered_join_audit",
    oracle=_X22_SQL,
    doc="The x18 readout CLOSING ITS LOOP (VERDICT r10 #4): for each of "
    "the five dim->fact pairs the join is planned through "
    "operators/sketch.cms_steered_join — the build side's exact row "
    "count is recovered from its CMS grid (every grid row-sum is N) "
    "and the broadcast-vs-shuffle pick happens at PLAN-BUILD time, "
    "before any table statistics exist; the reported strategy is the "
    "one the executed plan actually used (pinned by the plan-shape "
    "test: BroadcastHashJoin flips to SortMergeJoin across the "
    "threshold). join_rows is the exact join cardinality computed "
    "THROUGH the steered plan, so a wrong steering decision cannot "
    "hide - both strategies must produce the identical count the "
    "oracle computes declaratively. The one collected scalar per pair "
    "is sketch state (a single bigint off a depth x width grid), "
    "never data - the bounded-driver-state discipline of the kmeans "
    "centroid collects, and exactly what a statistics-free ingest "
    "planner consults at 100 TB where ANALYZE hasn't run. Scale: the "
    "decision cost is one grid fold per pair; the join itself is the "
    "plan Spark would run anyway, now with the right build side.",
)
def x22_cms_steered_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..operators.sketch import (
        cms_build_portable,
        cms_grid_counts,
        cms_steered_join_with_strategy,
    )

    # r12 (guide §2.3): the five decision sketches batch through ONE
    # pair-tagged grid build and ONE driver action (5 bigints of
    # bounded state, via operators/sketch.cms_grid_counts) instead of
    # one sketch job + collect per pair; the decision arithmetic and
    # the steered joins are unchanged.
    dall = reduce(
        lambda a, b: a.unionByName(b),
        [
            load_table(spark, sf_dir, dim).select(
                F.lit(f"{dim}_x_{fact}").alias("pair"),
                F.col(dkey).cast("string").alias("k"),
            )
            for dim, fact, dkey, fkey in _X18_PAIRS
        ],
    )
    counts = cms_grid_counts(
        cms_build_portable(dall, "k", X18_DEPTH, X18_WIDTH, group_cols=("pair",))
    )
    out = None
    for dim, fact, dkey, fkey in _X18_PAIRS:
        d = load_table(spark, sf_dir, dim).select(F.col(dkey).alias("_k"))
        f_ = load_table(spark, sf_dir, fact).select(F.col(fkey).alias("_k"))
        joined, strategy = cms_steered_join_with_strategy(
            f_,
            d,
            "_k",
            depth=X18_DEPTH,
            width=X18_WIDTH,
            row_bytes=X18_ROW_BYTES,
            threshold_bytes=X18_BCAST_BYTES,
            build_rows=counts.get(f"{dim}_x_{fact}", 0),
        )
        row = joined.agg(
            F.count(F.lit(1)).cast("bigint").alias("join_rows")
        ).select(
            F.lit(f"{dim}_x_{fact}").alias("pair"),
            F.lit(strategy).alias("strategy"),
            "join_rows",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# g16 — local clustering coefficient by degree (round 11): the
# curvature readout over g04's triangle machinery
# ---------------------------------------------------------------------------

_G16_Q = 1_000_000_000.0  # 1e-9 quantization of per-node cc terms


@query(
    "g16_clustering_coefficient",
    oracle=f"""
    WITH co AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= {G04_MIN_QTY}
    ),
    ed AS (
        SELECT a.s AS u, b.s AS v
        FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s HAVING COUNT(*) >= {G04_MIN_SHARED}
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM ed UNION ALL SELECT v AS node FROM ed)
        GROUP BY node
    ),
    ori AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
        FROM ed e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM ori e1 JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst
        JOIN ed e3 ON e3.u = e1.dst AND e3.v = e2.dst
    ),
    tcnt AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS t
        FROM (SELECT a AS node FROM tri
              UNION ALL SELECT b AS node FROM tri
              UNION ALL SELECT c AS node FROM tri)
        GROUP BY node
    ),
    cc AS (
        SELECT deg.node, deg.d, COALESCE(tcnt.t, 0) AS t,
               2.0 * COALESCE(tcnt.t, 0) / (deg.d * (deg.d - 1)) AS cc
        FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
        WHERE deg.d >= 2
    )
    SELECT d AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(t) AS BIGINT) AS sum_triangles,
           {sql_fround(
               f"CAST(SUM(CAST(FLOOR(cc * {_G16_Q} + 0.5) AS BIGINT)) AS DOUBLE)"
               f" / COUNT(*) / {_G16_Q}", 6)} AS avg_cc
    FROM cc GROUP BY d
    """,
    doc="Local clustering coefficient cc_v = 2*T_v / (d_v*(d_v-1)) over "
    "the supplier co-purchase projection, rolled up by exact degree — "
    "the graph-curvature readout (Watts & Strogatz 1998) that says "
    "whether high-degree suppliers sit inside dense communities "
    "(cc stays flat as d grows) or act as bridges between otherwise "
    "separate customer pools (cc ~ 1/d, the hierarchical signature "
    "Ravasz & Barabasi 2003 measured) — the decision input for "
    "whether community detection (g08) will find anything. Reuses "
    "g04's degree-oriented triangle machinery verbatim (operators/"
    "graph.triangle_counts; wedge fanout bounded O(sqrt(m)) by "
    "orientation); nodes with zero triangles enter at cc = 0 through "
    "a left join, so the average is over ALL degree-eligible nodes, "
    "not just triangle-bearing ones. Per-node cc terms are quantized "
    "to 1e-9 BIGINTs before the per-degree mean (t51 discipline). "
    "Scale: the projection + one wedge join (g04's measured x256 "
    "shape) and two node-grain rollups; output is bounded by the "
    "distinct-degree count.",
)
def g16_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_counts

    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    t = triangle_counts(edges).select(
        "node", F.col("n_triangles").cast("bigint").alias("t")
    )
    cc_nodes = (
        deg.filter(F.col("d") >= 2)
        .join(t, "node", "left")
        .select(
            "d",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
            (
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1))
            ).alias("cc"),
        )
    )
    q_term = F.floor(F.col("cc") * _G16_Q + 0.5).cast("bigint")
    return cc_nodes.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("t").cast("bigint").alias("sum_triangles"),
        fround(
            F.sum(q_term).cast("double") / F.count(F.lit(1)) / _G16_Q, 6
        ).alias("avg_cc"),
    )
