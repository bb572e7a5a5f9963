"""Round-12 second batch: the training-data-pipeline operators a
pretraining corpus build runs between dedup and tokenization — a
deterministic hash-based train/val/test split, GPT-style
concatenate-then-chunk sequence packing, a scalar-quantization
bits sweep (the memory-for-recall trade every production vector
store makes), a graded k-core (onion) decomposition of the transaction
graph, and an SCD2 run-length dimension history — all DataFrame/SQL
plans with DuckDB oracle twins under the repo's integer-quantization
discipline (plans/money.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..frames import tier
from ..functions.text import tokens
from ..sources.tables import load_table
from .money import fround, sql_fround
from .registry import query
from .graph_sketch import _G03_EDGES_SQL
from .round12 import _symmetric_edges
from .similarity import EMBEDDING_DIM, N_QUERY_VECS

_Q12 = "1000000000000.0"  # 1e-12 term quantization (the g02 discipline)


# ---------------------------------------------------------------------------
# q131 — deterministic stratified train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_MULT = 2654435761  # Knuth's 2^32 / phi multiplicative constant
_SPLIT_MOD = 4294967296  # 2^32


@query(
    "q131_stratified_split",
    oracle=f"""
    WITH s AS (
        SELECT lang, n_chars,
               CASE WHEN (doc_id * {_SPLIT_MULT}) % {_SPLIT_MOD} % 100 < 90 THEN 'train'
                    WHEN (doc_id * {_SPLIT_MULT}) % {_SPLIT_MOD} % 100 < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    g AS (
        SELECT lang, split, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM s GROUP BY lang, split
    )
    SELECT lang, split, n_docs, total_chars,
           {sql_fround("100.0 * n_docs / SUM(n_docs) OVER (PARTITION BY lang)", 4)}
               AS pct_of_lang
    FROM g
    ORDER BY lang, split
    """,
    doc="Deterministic hash-based train/val/test split (90/5/5), "
    "stratified report by language: bucket = doc_id * 2654435761 mod "
    "2^32 mod 100 — Knuth's multiplicative hash, pure int64 "
    "arithmetic so both engines agree bit-for-bit and the assignment "
    "is REPRODUCIBLE independent of row order, partitioning, or "
    "engine (the property a training pipeline needs so that re-runs, "
    "backfills, and a different engine all put the same document in "
    "the same split — a random() split has none of these). The "
    "stratification report is the leakage/balance audit: per "
    "(lang, split) doc and char counts plus each split's share of "
    "its language. Scale: one scan, one groupBy, one tiny window — "
    "the split column itself would be written once as a partition "
    "key; no shuffle grows with corpus size beyond the groupBy.",
)
def q131_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    bucket = F.pmod(
        F.pmod(F.col("doc_id") * F.lit(_SPLIT_MULT), F.lit(_SPLIT_MOD)), F.lit(100)
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    g = (
        d.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    lang_w = W.partitionBy("lang")
    return g.select(
        "lang",
        "split",
        "n_docs",
        "total_chars",
        fround(
            F.lit(100.0) * F.col("n_docs") / F.sum("n_docs").over(lang_w), 4
        ).alias("pct_of_lang"),
    ).orderBy("lang", "split")


# ---------------------------------------------------------------------------
# t79 — GPT-style concat-then-chunk sequence packing audit
# ---------------------------------------------------------------------------

_T79_BUDGET = 2048  # tokens per packed sequence

_T79_TOKS = "len(list_filter(string_split(text, ' '), x -> x <> ''))"


@query(
    "t79_concat_chunk_packing",
    oracle=f"""
    WITH d AS (
        SELECT source, doc_id, {_T79_TOKS} AS tok FROM documents
    ),
    c AS (
        SELECT source, doc_id, tok,
               SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM d
    ),
    f AS (
        SELECT source, tok, cum, cum - tok AS strt,
               CASE WHEN tok > 0
                         AND (cum - 1) // {_T79_BUDGET} > (cum - tok) // {_T79_BUDGET}
                    THEN 1 ELSE 0 END AS straddle
        FROM c
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           CAST((SUM(tok) - 1) // {_T79_BUDGET} + 1 AS BIGINT) AS n_chunks,
           CAST(SUM(straddle) AS BIGINT) AS straddling_docs,
           {sql_fround(f"100.0 * (SUM(tok) - ((SUM(tok) - 1) // {_T79_BUDGET}) * {_T79_BUDGET}) / {_T79_BUDGET}", 4)}
               AS tail_fill_pct
    FROM f
    GROUP BY source
    ORDER BY source
    """,
    doc="Concatenate-then-chunk sequence packing audit (the GPT-2/GPT-3 "
    "pretraining layout: per shard, documents are concatenated in a "
    "canonical order and the token stream is cut every B = 2048 "
    "tokens): per source — the shard key — the number of packed "
    "sequences the corpus yields, how many documents straddle a chunk "
    "boundary (each straddler loses cross-boundary attention context; "
    "the fraction is the packing-quality metric), and the fill of the "
    "final partial chunk. One window cumsum per shard gives every "
    "document its [start, end) token interval; a document straddles "
    "iff floor((end-1)/B) > floor(start/B) — pure integer arithmetic, "
    "bit-identical across engines. Scale: the cumsum is a single "
    "per-shard sort (the same order the packer itself needs), then "
    "one groupBy; nothing is materialized at token grain — the audit "
    "runs on counts, not the 100 TB token stream itself.",
)
def t79_concat_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens(F.col("text"))).alias("tok")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    c = d.select("source", "tok", F.sum("tok").over(w).alias("cum"))
    b = F.lit(_T79_BUDGET)
    straddle = (
        (F.col("tok") > 0)
        & (F.expr(f"(cum - 1) DIV {_T79_BUDGET}") > F.expr(f"(cum - tok) DIV {_T79_BUDGET}"))
    ).cast("int")
    f = c.select("source", "tok", straddle.alias("straddle"))
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.sum("straddle").alias("straddling"),
        )
        .select(
            "source",
            "n_docs",
            F.col("total_tokens").alias("total_tokens"),
            ((F.col("total_tokens") - 1) / b).cast("long").alias("n_chunks_floor"),
            F.col("straddling"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            (F.col("n_chunks_floor") + 1).alias("n_chunks"),
            F.col("straddling").cast("long").alias("straddling_docs"),
            fround(
                F.lit(100.0)
                * (F.col("total_tokens") - F.col("n_chunks_floor") * b)
                / b,
                4,
            ).alias("tail_fill_pct"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# g18 — graded k-core (onion) decomposition of the repeat-business graph
# ---------------------------------------------------------------------------

_G18_LEVELS = (2, 4, 6)

_G18_EDGES_SQL = """
    p AS (
        SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2 HAVING COUNT(DISTINCT o_orderkey) >= 2
    ),
    e0 AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p)
"""


def _g18_sql_level(k: int, prev: str, out: str) -> str:
    """One peel: nodes of ``prev`` with degree >= k survive into ``out``."""
    return f"""
    a{k} AS (
        SELECT src AS node FROM {prev} GROUP BY src HAVING COUNT(*) >= {k}
    ),
    {out} AS (
        SELECT src, dst FROM {prev}
        WHERE src IN (SELECT node FROM a{k}) AND dst IN (SELECT node FROM a{k})
    )"""


def _g18_peel_level(cur: DataFrame, k: int, n_parts: int) -> DataFrame:
    """One ascending-k peel: restrict the half-edge frame to nodes of
    degree >= k via two LeftSemi probes of the alive set (a tier
    build)."""
    alive = (
        cur.groupBy("src")
        .count()
        .filter(F.col("count") >= k)
        .select(F.col("src").alias("node"))
    )
    return (
        cur.join(alive, cur["src"] == alive["node"], "left_semi")
        .join(alive, cur["dst"] == alive["node"], "left_semi")
        .repartition(n_parts, "src")
    )


@query(
    "g18_core_decomposition",
    oracle=f"""
    WITH {_G18_EDGES_SQL},
    {_g18_sql_level(2, "e0", "e2")},
    {_g18_sql_level(4, "e2", "e4")},
    {_g18_sql_level(6, "e4", "e6")}
    SELECT core_k, kind, n_nodes, n_halfedges FROM (
        SELECT 2 AS core_k, substr(src, 1, 1) AS kind,
               COUNT(DISTINCT src) AS n_nodes, COUNT(*) AS n_halfedges
        FROM e2 GROUP BY 2
        UNION ALL
        SELECT 4, substr(src, 1, 1), COUNT(DISTINCT src), COUNT(*) FROM e4 GROUP BY 2
        UNION ALL
        SELECT 6, substr(src, 1, 1), COUNT(DISTINCT src), COUNT(*) FROM e6 GROUP BY 2
    ) t
    ORDER BY core_k, kind
    """,
    doc="Graded k-core (onion) decomposition of the UNDIRECTED repeat-"
    "business graph (supplier-customer pairs with >= 2 distinct "
    "orders — the relationship graph, not the transaction graph): "
    "ascending-k peel schedule k = 2, 4, 6, where each level peels "
    "nodes of degree < k from the previous level's survivors and "
    "restricts edges to the surviving set. Peeling the (k-1)-core at "
    "threshold k is exactly how the full core decomposition is "
    "computed incrementally (Batagelj-Zaversnik 2003; distributed "
    "form in Montresor et al. 2013) — each level is one degree "
    "groupBy + one two-sided semi-join, the Pregel-free shape that "
    "runs on any Spark cluster. g06_kcore_prune is the single-k kin "
    "(fixed k=3, two rounds, co-purchase projection; its production "
    "fixpoint is operators/graph.kcore) — this query instead walks "
    "the k-AXIS, yielding the decomposition PROFILE a graph-"
    "cohesion report needs. Output: nodes and half-edges "
    "surviving each level, split by node kind (supplier vs customer) "
    "— the cohesion profile of the business graph. Scale: degree "
    "counting and semi-joins shuffle on the node key only; state "
    "between levels is the shrinking edge list itself, never a "
    "driver-side structure.",
)
def g18_core_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .agg(F.countDistinct("o_orderkey").alias("n_ord"))
        .filter(F.col("n_ord") >= 2)
        .select("src", "dst")
    )
    # Hash-cluster on src at default parallelism BEFORE the union-persist
    # (the g17 lesson: a bare persist pins 200-partition cache output AQE
    # cannot coalesce, and clustering on src feeds every per-level degree
    # groupBy exchange-free).
    # r12 (guide §2.4): every level rides the scratch-parquet frame
    # tier — a LAZY per-level persist still let the level's consumers
    # (the next level's alive rollup, both semi-join probes, the
    # census) race and re-expand the whole unrolled prefix (a ~350-
    # exchange pre-execution plan); the tier materializes each level
    # exactly once per process.
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    cur = tier(_symmetric_edges, p, n_parts=n_parts)
    levels = []
    for k in _G18_LEVELS:
        cur = tier(_g18_peel_level, cur, k=k, n_parts=n_parts)
        levels.append(
            cur.groupBy(F.substring("src", 1, 1).alias("kind")).agg(
                F.countDistinct("src").alias("n_nodes"),
                F.count(F.lit(1)).alias("n_halfedges"),
            ).select(F.lit(k).alias("core_k"), "kind", "n_nodes", "n_halfedges")
        )
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionAll(lvl)
    return out.orderBy("core_k", "kind")


# ---------------------------------------------------------------------------
# q132 — SCD2 run-length history of order priority per customer
# ---------------------------------------------------------------------------


@query(
    "q132_scd2_priority_runs",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
               CASE WHEN LAG(o_orderpriority) OVER w IS NULL
                         OR LAG(o_orderpriority) OVER w <> o_orderpriority
                    THEN 1 ELSE 0 END AS chg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    isl AS (
        SELECT o_custkey, o_orderpriority,
               SUM(chg) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM o
    ),
    runs AS (
        SELECT o_custkey, o_orderpriority, island, COUNT(*) AS run_len
        FROM isl GROUP BY o_custkey, o_orderpriority, island
    )
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n_runs,
           CAST(SUM(run_len) AS BIGINT) AS n_orders,
           CAST(MAX(run_len) AS BIGINT) AS max_run,
           {sql_fround("CAST(SUM(run_len) AS DOUBLE) / COUNT(*)", 4)} AS avg_run,
           {sql_fround("100.0 * SUM(CASE WHEN run_len = 1 THEN 1 ELSE 0 END) / COUNT(*)", 4)}
               AS pct_singleton
    FROM runs
    GROUP BY priority
    ORDER BY priority
    """,
    doc="SCD2 (slowly-changing-dimension type 2) history build via gaps-"
    "and-islands: per customer, orders in date order collapse into "
    "maximal runs of unchanged o_orderpriority — lag() flags each "
    "change, a running sum of flags numbers the islands, and one "
    "groupBy per (customer, island) yields the validity intervals a "
    "warehouse would store as [effective_from, effective_to) rows "
    "(Kimball's type-2 dimension, the standard change-history "
    "pattern). The report aggregates run-length statistics per "
    "priority: run counts, the longest streak, mean streak length, "
    "and the share of one-order streaks (attribute churn rate). "
    "Scale: both windows share ONE sort (same partition/order key), "
    "so the whole history build is a single per-customer shuffle + "
    "sort — the same cost as writing the SCD2 table itself.",
)
def q132_scd2_priority_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = (
        F.when(
            F.lag("o_orderpriority").over(w).isNull()
            | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority")),
            1,
        )
        .otherwise(0)
        .alias("chg")
    )
    isl = o.select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", chg).select(
        "o_custkey",
        "o_orderpriority",
        F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("island"),
    )
    runs = isl.groupBy("o_custkey", "o_orderpriority", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("run_len").alias("n_orders"),
            F.max("run_len").alias("max_run"),
            fround(F.sum("run_len").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_run"
            ),
            fround(
                F.lit(100.0)
                * F.sum((F.col("run_len") == 1).cast("int"))
                / F.count(F.lit(1)),
                4,
            ).alias("pct_singleton"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# s36 — int8 scalar-quantization recall (asymmetric / ADC scoring)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# s36 — scalar-quantization bits sweep: recall + dot error per grid
# ---------------------------------------------------------------------------

_S36_K = 10
_S36_BITS = (4, 8)  # FAISS SQ4 / SQ8 grids: 15- and 255-step uniform


@query(
    "s36_sq_bits_recall",
    oracle=f"""
    WITH grids AS (
        SELECT unnest([{", ".join(str(b) for b in _S36_BITS)}]) AS bits
    ),
    dims AS (
        SELECT i AS d,
               MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
               MAX(CAST(embedding[i] AS DOUBLE)) AS mx
        FROM embeddings, range(1, {EMBEDDING_DIM + 1}) t(i)
        GROUP BY i
    ),
    sc AS (
        SELECT bits, d, mn,
               (mx - mn) / CAST(2 ** bits - 1 AS DOUBLE) AS s
        FROM dims CROSS JOIN grids
    ),
    cexp AS (
        SELECT vec_id AS c_id, d, CAST(embedding[d] AS DOUBLE) AS v
        FROM embeddings, range(1, {EMBEDDING_DIM + 1}) t(d)
    ),
    crec AS (
        SELECT bits, c_id, cexp.d, v,
               CASE WHEN s > 0
                    THEN mn + FLOOR((v - mn) / s + 0.5) * s
                    ELSE mn END AS recon
        FROM cexp JOIN sc ON cexp.d = sc.d
    ),
    qexp AS (
        SELECT vec_id AS q_id, d, CAST(embedding[d] AS DOUBLE) AS qv
        FROM embeddings, range(1, {EMBEDDING_DIM + 1}) t(d)
        WHERE vec_id < {N_QUERY_VECS}
    ),
    terms AS (
        SELECT bits, q_id, c_id,
               CAST(FLOOR((qv * recon) * {_Q12} + 0.5) AS BIGINT) AS adc_t,
               CAST(FLOOR((qv * v) * {_Q12} + 0.5) AS BIGINT) AS ex_t
        FROM qexp JOIN crec ON qexp.d = crec.d
        WHERE q_id <> c_id
    ),
    dots AS (
        SELECT bits, q_id, c_id,
               CAST(SUM(adc_t) AS BIGINT) AS adc_q,
               CAST(SUM(ex_t) AS BIGINT) AS ex_q
        FROM terms GROUP BY bits, q_id, c_id
    ),
    ranked AS (
        SELECT bits, q_id, c_id, adc_q, ex_q,
               ROW_NUMBER() OVER (PARTITION BY bits, q_id ORDER BY adc_q DESC, c_id) AS rn_adc,
               ROW_NUMBER() OVER (PARTITION BY bits, q_id ORDER BY ex_q DESC, c_id) AS rn_ex
        FROM dots
    )
    SELECT CAST(bits AS INTEGER) AS bits, q_id,
           {sql_fround(f"SUM(CASE WHEN rn_adc <= {_S36_K} AND rn_ex <= {_S36_K} THEN 1 ELSE 0 END) / {_S36_K}.0", 4)}
               AS recall_at_10,
           {sql_fround(f"SUM(CASE WHEN rn_ex <= {_S36_K} THEN ABS(adc_q - ex_q) ELSE 0 END) / {_S36_K}.0 / {_Q12}", 6)}
               AS mean_abs_err_top10
    FROM ranked
    GROUP BY bits, q_id
    ORDER BY bits, q_id
    """,
    doc="Scalar-quantization bits sweep — the memory-for-recall trade "
    "every production vector store ships (FAISS SQ4/SQ8, Lucene "
    "int8_hnsw, Milvus SQ), measured as a curve: per-dimension "
    "[min, max] over the corpus defines a (2^bits - 1)-step uniform "
    "grid; candidates are stored as codes (8x / 4x smaller than "
    "float32) and scored ASYMMETRICALLY — full-precision query "
    "against reconstructed candidate, the ADC mode of Jegou et al. "
    "2011 that keeps most of the accuracy. Per (bits, probe): "
    "recall@10 of the quantized top-10 against the exact inner-"
    "product top-10, and mean |dot error| over the exact top-10 "
    "pricing the grid coarseness — at 4 bits recall visibly dips "
    "below 1.0 on this corpus, at 8 bits it holds 1.0, which IS the "
    "capacity-planning answer. Every product term is quantized to "
    "1e-12 integers before summing, so both engines produce bit-"
    "identical scores in any sum order. Scale: dimension stats are "
    "one narrow posexplode groupBy (parquet-footer territory at "
    "rest); scoring joins a broadcast 5x64 probe table to the "
    "element-grain candidate stream — no cross join materializes "
    "full vectors, and the code table is the 4-8x-smaller scan a "
    "100 TB index actually reads.",
)
def s36_sq_bits_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exp = e.select(
        F.col("vec_id"), F.posexplode("embedding").alias("p", "vf")
    ).select("vec_id", (F.col("p") + 1).alias("d"), F.col("vf").cast("double").alias("v"))
    dims = exp.groupBy("d").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    grids = spark.range(0).sparkSession.createDataFrame(
        [(b,) for b in _S36_BITS], "bits int"
    )
    sc = dims.crossJoin(F.broadcast(grids)).select(
        "bits",
        "d",
        "mn",
        (
            (F.col("mx") - F.col("mn"))
            / (F.pow(F.lit(2.0), F.col("bits").cast("double")) - F.lit(1.0))
        ).alias("s"),
    )
    crec = (
        exp.withColumnRenamed("vec_id", "c_id")
        .join(F.broadcast(sc), "d")
        .select(
            "bits",
            "c_id",
            "d",
            "v",
            F.when(
                F.col("s") > 0,
                F.col("mn")
                + F.floor((F.col("v") - F.col("mn")) / F.col("s") + F.lit(0.5))
                * F.col("s"),
            )
            .otherwise(F.col("mn"))
            .alias("recon"),
        )
    )
    qexp = exp.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), "d", F.col("v").alias("qv")
    )
    terms = (
        crec.join(F.broadcast(qexp), "d")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "bits",
            "q_id",
            "c_id",
            F.floor((F.col("qv") * F.col("recon")) * F.lit(float(_Q12)) + F.lit(0.5))
            .cast("long")
            .alias("adc_t"),
            F.floor((F.col("qv") * F.col("v")) * F.lit(float(_Q12)) + F.lit(0.5))
            .cast("long")
            .alias("ex_t"),
        )
    )
    dots = terms.groupBy("bits", "q_id", "c_id").agg(
        F.sum("adc_t").alias("adc_q"), F.sum("ex_t").alias("ex_q")
    )
    ranked = dots.select(
        "bits",
        "q_id",
        "adc_q",
        "ex_q",
        F.row_number()
        .over(W.partitionBy("bits", "q_id").orderBy(F.col("adc_q").desc(), "c_id"))
        .alias("rn_adc"),
        F.row_number()
        .over(W.partitionBy("bits", "q_id").orderBy(F.col("ex_q").desc(), "c_id"))
        .alias("rn_ex"),
    )
    k = F.lit(_S36_K)
    return (
        ranked.groupBy("bits", "q_id")
        .agg(
            fround(
                F.sum(((F.col("rn_adc") <= k) & (F.col("rn_ex") <= k)).cast("int"))
                / k.cast("double"),
                4,
            ).alias("recall_at_10"),
            fround(
                F.sum(
                    F.when(
                        F.col("rn_ex") <= k, F.abs(F.col("adc_q") - F.col("ex_q"))
                    ).otherwise(F.lit(0))
                )
                / k.cast("double")
                / F.lit(float(_Q12)),
                6,
            ).alias("mean_abs_err_top10"),
        )
        .orderBy("bits", "q_id")
    )


# ---------------------------------------------------------------------------
# m18 — audio silence runs from real per-sample PCM decode
# ---------------------------------------------------------------------------

_M18_THRESH = 3277  # |int16| below this (~10% FS) counts as silence


@query(
    "m18_audio_silence_runs",
    oracle=f"""
    WITH aud AS (
        SELECT i AS asset_id,
               CASE WHEN i % 2 = 1 THEN 8000 ELSE 16000 END AS sr,
               50 + (i % 5) * 10 AS dur,
               220.0 + 5 * i AS f
        FROM (SELECT unnest(generate_series(0, 119)) AS i) t
        WHERE i % 3 = 1
    ),
    v AS (
        SELECT asset_id,
               CAST(TRUNC(32767 * 0.5 * sin(2 * pi() * f * j / sr)) AS BIGINT) AS v,
               j
        FROM (SELECT asset_id, sr, f,
                     unnest(generate_series(0, sr * dur // 1000 - 1)) AS j
              FROM aud)
    ),
    sil AS (
        SELECT asset_id, j,
               j - ROW_NUMBER() OVER (PARTITION BY asset_id ORDER BY j) AS grp
        FROM v WHERE ABS(v) < {_M18_THRESH}
    ),
    runs AS (
        SELECT asset_id, grp, COUNT(*) AS run_len
        FROM sil GROUP BY asset_id, grp
    ),
    runstats AS (
        SELECT asset_id, COUNT(*) AS n_runs, CAST(MAX(run_len) AS BIGINT) AS max_run
        FROM runs GROUP BY asset_id
    ),
    tot AS (
        SELECT asset_id, COUNT(*) AS n_samples,
               CAST(SUM(CASE WHEN ABS(v) < {_M18_THRESH} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_silent
        FROM v GROUP BY asset_id
    )
    SELECT tot.asset_id, n_samples, n_silent, n_runs, max_run,
           {sql_fround("100.0 * n_silent / n_samples", 4)} AS silence_pct
    FROM tot JOIN runstats ON tot.asset_id = runstats.asset_id
    ORDER BY tot.asset_id
    """,
    doc="Silence-run detection over REAL per-sample WAV PCM decode — "
    "the segmentation primitive an audio-curation pipeline runs to "
    "trim leading/trailing silence and drop dead clips: samples with "
    "|int16| < 3277 (~10 %% full scale) are silent; maximal silent "
    "runs come from the classic gaps-and-islands (j - row_number "
    "per asset = constant within a run) — entirely JVM-side windows "
    "over the sample grain the decode map emits "
    "(operators/multimodal.audio_pcm_samples: decode is the ONLY "
    "Python step; the analytics are declarative). The oracle "
    "regenerates the generator's closed-form sine arithmetically "
    "(the m16 discipline — trunc(32767*0.5*sin(2*pi*f*j/sr)), libm "
    "sin verified bit-identical across engines) and runs the SAME "
    "windows, so one sample decoded wrong flips a run boundary. "
    "Output per clip: sample/silence counts, run count, longest run, "
    "silence share. Scale: sample rows carry the asset key, so the "
    "islands window partitions per asset with no cross-asset "
    "shuffle; run grain collapses immediately to per-asset stats.",
)
def m18_audio_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import audio_pcm_samples, make_real_assets

    assets = make_real_assets(spark, 120).filter(F.col("modality") == "audio")
    s = audio_pcm_samples(assets).select("asset_id", "j", "v")
    sil = s.filter(F.abs(F.col("v")) < _M18_THRESH).select(
        "asset_id",
        "j",
        (
            F.col("j")
            - F.row_number().over(W.partitionBy("asset_id").orderBy("j"))
        ).alias("grp"),
    )
    runs = sil.groupBy("asset_id", "grp").agg(F.count(F.lit(1)).alias("run_len"))
    runstats = runs.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_runs"), F.max("run_len").alias("max_run")
    )
    tot = s.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum((F.abs(F.col("v")) < _M18_THRESH).cast("int")).alias("n_silent"),
    )
    return (
        tot.join(runstats, "asset_id")
        .select(
            "asset_id",
            "n_samples",
            "n_silent",
            "n_runs",
            "max_run",
            fround(F.lit(100.0) * F.col("n_silent") / F.col("n_samples"), 4).alias(
                "silence_pct"
            ),
        )
        .orderBy("asset_id")
    )


# ---------------------------------------------------------------------------
# q133 — Z-order vs linear layout: file-skipping audit on footer stats
# ---------------------------------------------------------------------------

_Q133_BITS = 8  # 256 bucket ids per dimension
_Q133_ROWS = 512  # rows per simulated file / row group


def _sql_interleave(xc: str, yc: str, bits: int = _Q133_BITS) -> str:
    """Bit-interleave SQL twin of operators/layout.zorder_value: x on
    even positions, y on odd — generated from the same loop."""
    parts = []
    for i in range(bits):
        parts.append(f"((({xc} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({yc} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(parts) + ")"


@query(
    "q133_zorder_file_skipping",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey AS ck,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        FROM orders
    ),
    st AS (
        SELECT MIN(ck) AS minc, MAX(ck) AS maxc, MIN(day) AS mind, MAX(day) AS maxd
        FROM o
    ),
    z AS (
        SELECT o_orderkey, bx, by, {_sql_interleave("bx", "by")} AS zv
        FROM (
            SELECT o_orderkey,
                   ((ck - minc) * 256) // (maxc - minc + 1) AS bx,
                   ((day - mind) * 256) // (maxd - mind + 1) AS by
            FROM o CROSS JOIN st
        )
    ),
    fz AS (
        SELECT (ROW_NUMBER() OVER (ORDER BY zv, o_orderkey) - 1) // {_Q133_ROWS}
                   AS bucket,
               bx, by
        FROM z
    ),
    ft AS (
        SELECT (ROW_NUMBER() OVER (ORDER BY by, o_orderkey) - 1) // {_Q133_ROWS}
                   AS bucket,
               bx, by
        FROM z
    ),
    stats AS (
        SELECT 'zorder' AS layout, bucket,
               MIN(bx) AS min_bx, MAX(bx) AS max_bx,
               MIN(by) AS min_by, MAX(by) AS max_by
        FROM fz GROUP BY bucket
        UNION ALL
        SELECT 'linear', bucket, MIN(bx), MAX(bx), MIN(by), MAX(by)
        FROM ft GROUP BY bucket
    ),
    probes AS (
        SELECT p.probe, p.has_c, p.has_d,
               ((minc + ((maxc - minc) * 2) // 6 - minc) * 256)
                   // (maxc - minc + 1) AS pbx,
               ((mind + ((maxd - mind) * 3) // 8 - mind) * 256)
                   // (maxd - mind + 1) AS pby0,
               LEAST(((mind + ((maxd - mind) * 3) // 8 + 30 - mind) * 256)
                   // (maxd - mind + 1), 255) AS pby1
        FROM (VALUES ('cust_point', 1, 0),
                     ('date_range', 0, 1),
                     ('cust_and_date', 1, 1)) p(probe, has_c, has_d)
        CROSS JOIN st
    )
    SELECT layout, probe,
           COUNT(*) AS n_buckets,
           CAST(SUM(CASE WHEN (has_c = 0 OR pbx BETWEEN min_bx AND max_bx)
                          AND (has_d = 0 OR (pby1 >= min_by AND pby0 <= max_by))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
           {sql_fround("100.0 * (COUNT(*) - SUM(CASE WHEN (has_c = 0 OR pbx BETWEEN min_bx AND max_bx) AND (has_d = 0 OR (pby1 >= min_by AND pby0 <= max_by)) THEN 1 ELSE 0 END)) / COUNT(*)", 4)}
               AS skip_pct
    FROM stats CROSS JOIN probes
    GROUP BY layout, probe
    ORDER BY layout, probe
    """,
    doc="Z-order vs linear layout file-skipping audit — the measured "
    "WHY behind operators/layout.zorder_write: orders are bucketized "
    "to a 256x256 (customer, day) grid, laid out two ways into "
    f"{_Q133_ROWS}-row simulated files (Z-curve interleave — the SAME "
    "bit-interleave zorder_value emits, replicated in SQL — vs pure "
    "date order), and each layout keeps per-file min/max stats, "
    "exactly what parquet row-group footers store. Three probe "
    "shapes — customer point, 30-day range, and both — count the "
    "files whose stat ranges overlap the predicate (the files a "
    "reader must scan). The output IS the Z-order trade, measured: "
    "the date-sorted layout prunes date probes perfectly but scans "
    "EVERY file for the customer-only probe (its bx stats span the "
    "grid), while Z-order skips the large majority of files for "
    "BOTH single-column probes at a small cost on the pure date "
    "probe — Delta/Iceberg's stated rationale for OPTIMIZE ZORDER, "
    "reproduced on footer stats. Pure integer arithmetic end-to-end "
    "(grid ids, interleave, row-number bucketing) — bit-identical "
    "across engines. Scale: the global sort is the write-side job "
    "(one range-partitioned sort per table rewrite); the audit reads "
    "only file-grain stats — at 100 TB that is a parquet-footer "
    "scan, not a data scan.",
)
def q133_zorder_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import zorder_value

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    )
    st = o.agg(
        F.min("ck").alias("minc"),
        F.max("ck").alias("maxc"),
        F.min("day").alias("mind"),
        F.max("day").alias("maxd"),
    )
    b = o.crossJoin(F.broadcast(st)).select(
        "o_orderkey",
        ((F.col("ck") - F.col("minc")) * 256 / (F.col("maxc") - F.col("minc") + 1))
        .cast("long")
        .alias("bx"),
        ((F.col("day") - F.col("mind")) * 256 / (F.col("maxd") - F.col("mind") + 1))
        .cast("long")
        .alias("by"),
    )
    z = b.select(
        "o_orderkey",
        "bx",
        "by",
        zorder_value([F.col("bx"), F.col("by")], bits=_Q133_BITS).alias("zv"),
    )
    def _file_stats(frame, order_cols, layout):
        f = frame.select(
            ((F.row_number().over(W.orderBy(*order_cols)) - 1) / _Q133_ROWS)
            .cast("long")
            .alias("bucket"),
            "bx",
            "by",
        )
        return f.groupBy("bucket").agg(
            F.min("bx").alias("min_bx"),
            F.max("bx").alias("max_bx"),
            F.min("by").alias("min_by"),
            F.max("by").alias("max_by"),
        ).select(F.lit(layout).alias("layout"), "*")

    stats = _file_stats(z, ["zv", "o_orderkey"], "zorder").unionAll(
        _file_stats(z, ["by", "o_orderkey"], "linear")
    )
    pr = spark.createDataFrame(
        [("cust_point", 1, 0), ("date_range", 0, 1), ("cust_and_date", 1, 1)],
        "probe string, has_c int, has_d int",
    )
    probes = pr.crossJoin(F.broadcast(st)).select(
        "probe",
        "has_c",
        "has_d",
        (
            (
                F.col("minc")
                + ((F.col("maxc") - F.col("minc")) * 2 / 6).cast("long")
                - F.col("minc")
            )
            * 256
            / (F.col("maxc") - F.col("minc") + 1)
        )
        .cast("long")
        .alias("pbx"),
        (
            (
                F.col("mind")
                + ((F.col("maxd") - F.col("mind")) * 3 / 8).cast("long")
                - F.col("mind")
            )
            * 256
            / (F.col("maxd") - F.col("mind") + 1)
        )
        .cast("long")
        .alias("pby0"),
        F.least(
            (
                (
                    F.col("mind")
                    + ((F.col("maxd") - F.col("mind")) * 3 / 8).cast("long")
                    + 30
                    - F.col("mind")
                )
                * 256
                / (F.col("maxd") - F.col("mind") + 1)
            ).cast("long"),
            F.lit(255),
        ).alias("pby1"),
    )
    hit = (
        (
            (F.col("has_c") == 0)
            | F.col("pbx").between(F.col("min_bx"), F.col("max_bx"))
        )
        & (
            (F.col("has_d") == 0)
            | ((F.col("pby1") >= F.col("min_by")) & (F.col("pby0") <= F.col("max_by")))
        )
    ).cast("int")
    return (
        stats.crossJoin(F.broadcast(probes))
        .groupBy("layout", "probe")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(hit).alias("n_scanned"),
        )
        .select(
            "layout",
            "probe",
            "n_buckets",
            "n_scanned",
            fround(
                F.lit(100.0)
                * (F.col("n_buckets") - F.col("n_scanned"))
                / F.col("n_buckets"),
                4,
            ).alias("skip_pct"),
        )
        .orderBy("layout", "probe")
    )


# ---------------------------------------------------------------------------
# g19 — Newman modularity of the g08 label-propagation partition
# ---------------------------------------------------------------------------

_G19_LPA_CTES = """
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
"""


def _lpa_round(e2: DataFrame, labels: DataFrame) -> DataFrame:
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


def _g19_labels(e2: DataFrame, l0: DataFrame, n_parts: int) -> DataFrame:
    # repartition-by-node (the g17/g18 lesson: a bare persist pins the
    # windows' 200-partition output; node-hashed output feeds both
    # label joins exchange-free)
    return _lpa_round(e2, _lpa_round(e2, l0)).repartition(n_parts, "node")


@query(
    "g19_community_modularity",
    oracle=f"""
    WITH base AS ({{edges}}),
    {_G19_LPA_CTES},
    lab AS (
        SELECT e2.src, e2.dst, ls.lbl AS src_lbl, ld.lbl AS dst_lbl
        FROM e2
        JOIN l2 ls ON e2.src = ls.node
        JOIN l2 ld ON e2.dst = ld.node
    ),
    h AS (SELECT CAST(COUNT(*) AS BIGINT) AS hh FROM e2),
    per_c AS (
        SELECT src_lbl AS community,
               CAST(SUM(CASE WHEN src_lbl = dst_lbl THEN 1 ELSE 0 END) AS BIGINT)
                   AS intra_he,
               CAST(COUNT(*) AS BIGINT) AS deg_sum
        FROM lab GROUP BY src_lbl
    ),
    qc AS (
        SELECT community,
               CAST(FLOOR((CAST(intra_he AS DOUBLE) / hh
                           - (CAST(deg_sum AS DOUBLE) / hh)
                             * (CAST(deg_sum AS DOUBLE) / hh)) * {{q12}} + 0.5)
                    AS BIGINT) AS qq
        FROM per_c CROSS JOIN h
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST((SELECT hh FROM h) // 2 AS BIGINT) AS m_edges,
           {sql_fround(f"CAST(SUM(qq) AS DOUBLE) / {_Q12}", 8)} AS q_modularity
    FROM qc
    """.format(edges=_G03_EDGES_SQL, q12=_Q12),
    doc="Newman modularity Q of the g08 label-propagation partition — "
    "the missing SCORE for the communities g08 detects (Newman & "
    "Girvan 2004): Q = sum over communities of [intra-edge share - "
    "(degree share)^2], computed on the half-edge list as Q = "
    "sum_c[H_c/H - (D_c/H)^2] with H_c the intra-community half-"
    "edges, D_c the community degree mass, H = 2m — all EXACT int64 "
    "counts from two node-keyed label joins (the same decoration "
    "shape g09 uses for degrees); each community's contribution is "
    "quantized to 1e-12 integers before the final sum, so both "
    "engines agree bit-for-bit regardless of community enumeration "
    "order. Detection without evaluation is half an operator: this "
    "is the number a pipeline thresholds to decide whether the "
    "partition is real structure (Q well above 0) or noise. Scale: "
    "the LPA rounds are |E|-shuffle each (g08's own cost); the "
    "scoring pass adds two equi-joins + one community-grain "
    "aggregate — no new asymptotics on a 100 TB graph.",
)
def g19_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    # r12 (guide §2.4): the edge frame feeds both LPA rounds AND the
    # final label join (4 subtrees) — scratch-tier build so the
    # lineitem⋈orders distinct runs once per process.
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    e2 = tier(_symmetric_edges, base, n_parts=n_parts)
    l0 = sup.select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("node"),
        F.col("s_nationkey").cast("bigint").alias("lbl"),
    ).union(
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("node"),
            F.col("c_nationkey").cast("bigint").alias("lbl"),
        )
    )

    # scratch-tiered so the two label-join sides read one materialized
    # frame
    l2 = tier(_g19_labels, e2, l0, n_parts=n_parts)
    ls = l2.select(F.col("node").alias("sn"), F.col("lbl").alias("src_lbl"))
    ld = l2.select(F.col("node").alias("dn"), F.col("lbl").alias("dst_lbl"))
    lab = (
        e2.join(ls, e2["src"] == ls["sn"])
        .join(ld, e2["dst"] == ld["dn"])
        .select("src_lbl", "dst_lbl")
    )
    per_c = lab.groupBy(F.col("src_lbl").alias("community")).agg(
        F.sum((F.col("src_lbl") == F.col("dst_lbl")).cast("int"))
        .cast("bigint")
        .alias("intra_he"),
        F.count(F.lit(1)).cast("bigint").alias("deg_sum"),
    )
    h = e2.agg(F.count(F.lit(1)).cast("bigint").alias("hh"))
    qc = per_c.crossJoin(F.broadcast(h)).select(
        "hh",
        F.floor(
            (
                F.col("intra_he").cast("double") / F.col("hh")
                - (F.col("deg_sum").cast("double") / F.col("hh"))
                * (F.col("deg_sum").cast("double") / F.col("hh"))
            )
            * F.lit(float(_Q12))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("qq"),
    )
    return qc.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        (F.first("hh") / 2).cast("bigint").alias("m_edges"),
        fround(F.sum("qq").cast("double") / F.lit(float(_Q12)), 8).alias(
            "q_modularity"
        ),
    )


# ---------------------------------------------------------------------------
# d25 — SymSpell deletion-neighborhood join: the blocking recall audit
# ---------------------------------------------------------------------------

_D25_DELS = (
    "list_concat([c_name], "
    "list_transform(range(1, length(c_name) + 1), "
    "i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1, 999)))"
)


@query(
    "d25_symspell_blocking_recall",
    oracle=f"""
    WITH v AS (
        SELECT c_custkey AS id, c_name AS name, c_nationkey AS nk,
               c_mktsegment AS seg,
               unnest({_D25_DELS}) AS var
        FROM customer
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               a.name AS na, b.name AS nb,
               a.nk AS nka, b.nk AS nkb, a.seg AS sega, b.seg AS segb
        FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
    ),
    truth AS (
        SELECT id_a, id_b, nka, nkb, sega, segb
        FROM cand WHERE levenshtein(na, nb) <= 1
    )
    SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(CASE WHEN nka = nkb AND sega = segb THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blocked_pairs,
           {sql_fround("100.0 * SUM(CASE WHEN nka = nkb AND sega = segb THEN 1 ELSE 0 END) / COUNT(*)", 4)}
               AS blocking_recall_pct
    FROM truth
    """,
    doc="SymSpell deletion-neighborhood join (Garbe 2012) as a BLOCKING "
    "RECALL AUDIT for entity resolution: every customer name emits "
    "its length+1 single-deletion variants (plus itself); two names "
    "within Levenshtein distance 1 MUST share a variant (deletion, "
    "insertion, and substitution all collide on a common deletion), "
    "so the variant equi-join is a COMPLETE distance-1 candidate "
    "generator — no pair is missed, unlike attribute blocking. "
    "Candidates are verified with one levenshtein() call (kills the "
    "transposition-at-distance-2 collisions). The audit then scores "
    "d11_fuzzy_name_pairs' production blocking scheme (same nation + "
    "same market segment) against this full-recall truth set: "
    "blocking_recall_pct IS the fraction of true fuzzy matches "
    "attribute blocking keeps — the number an ER pipeline must know "
    "before trusting its blocks (Papadakis et al. 2020 survey "
    "discipline). Scale: variants grow the table ~20x but the join "
    "is an equi-join on the variant string with small groups — never "
    "the all-pairs product; SymSpell is THE spell-correction index "
    "at dictionary scale for exactly this reason.",
)
def d25_symspell_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
    )
    # variant stream carries ONLY (id, var): the candidate join and the
    # pair-distinct shuffle slim 8-column rows down to two ints+string;
    # names/attrs decorate the ~|pairs| survivors afterwards (13.2 s ->
    # ~2.7 s steady at sf0.1 vs the wide-row first draft)
    # r12 (guide §2.4): the variant stream fed both candidate-join
    # sides and the decorated candidate frame fed the truth filter AND
    # the candidate count — un-materialized, the deletion-neighborhood
    # explode and the pair pipeline each ran twice. One scratch-tier
    # build.
    def build_cand(cust: DataFrame) -> DataFrame:
        v = cust.select(
            "id",
            F.explode(
                F.expr(
                    "concat(array(name), "
                    "transform(sequence(1, length(name)), "
                    "i -> concat(substring(name, 1, i - 1), "
                    "substring(name, i + 1, 999))))"
                )
            ).alias("var"),
        )
        a = v.select(F.col("id").alias("id_a"), "var")
        b = v.select(F.col("id").alias("id_b"), F.col("var").alias("_var"))
        pairs = (
            a.join(b, (a["var"] == b["_var"]) & (a["id_a"] < b["id_b"]))
            .select("id_a", "id_b")
            .distinct()
        )
        ca = cust.select(
            F.col("id").alias("_ia"), F.col("name").alias("na"),
            F.col("nk").alias("nka"), F.col("seg").alias("sega"),
        )
        cb = cust.select(
            F.col("id").alias("_ib"), F.col("name").alias("nb"),
            F.col("nk").alias("nkb"), F.col("seg").alias("segb"),
        )
        return (
            pairs.join(ca, pairs["id_a"] == ca["_ia"])
            .join(cb, pairs["id_b"] == cb["_ib"])
            .select("id_a", "id_b", "na", "nb", "nka", "nkb", "sega", "segb")
        )

    cand = tier(build_cand, cust)
    truth = cand.filter(F.levenshtein("na", "nb") <= 1)
    blocked = ((F.col("nka") == F.col("nkb")) & (F.col("sega") == F.col("segb"))).cast(
        "int"
    )
    # candidate count joins the 1-row truth stats as a broadcast 1-row
    # frame — never a driver-side .count() inside the plan builder
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    stats = truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
        F.sum(blocked).cast("bigint").alias("n_blocked_pairs"),
        fround(F.lit(100.0) * F.sum(blocked) / F.count(F.lit(1)), 4).alias(
            "blocking_recall_pct"
        ),
    )
    return n_cand.crossJoin(F.broadcast(stats)).select(
        "n_candidates", "n_true_pairs", "n_blocked_pairs", "blocking_recall_pct"
    )


# ---------------------------------------------------------------------------
# e53 — position-based (U-shaped) multi-touch attribution
# ---------------------------------------------------------------------------

_Q6 = "1000000.0"  # micro-dollar quantization for weighted credits


@query(
    "e53_position_attribution",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS p_inc,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS p_before
        FROM events
    ),
    touches AS (
        SELECT user_id, event_type AS channel,
               COALESCE(p_before, 0) + 1 AS path,
               ROW_NUMBER() OVER (PARTITION BY user_id, COALESCE(p_before, 0)
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id, COALESCE(p_before, 0)) AS n
        FROM seq WHERE event_type <> 'purchase'
    ),
    purchases AS (
        SELECT user_id, p_inc AS idx,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM seq WHERE event_type = 'purchase'
    ),
    credits AS (
        SELECT COALESCE(t.channel, 'direct') AS channel,
               CAST(FLOOR(CAST(p.cents AS DOUBLE)
                    * (CASE WHEN t.channel IS NULL THEN 1.0
                            WHEN t.n = 1 THEN 1.0
                            WHEN t.n = 2 THEN 0.5
                            WHEN t.rn = 1 OR t.rn = t.n THEN 0.4
                            ELSE 0.2 / (t.n - 2) END)
                    * 10000.0 + 0.5) AS BIGINT) AS credit_q
        FROM purchases p
        LEFT JOIN touches t ON p.user_id = t.user_id AND p.idx = t.path
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           {sql_fround(f"CAST(SUM(credit_q) AS DOUBLE) / {_Q6}", 4)}
               AS attributed_value
    FROM credits
    GROUP BY channel
    ORDER BY channel
    """,
    doc="Position-based (U-shaped) multi-touch attribution — the 40/20/"
    "40 model every marketing-analytics stack ships beside e21's "
    "last-touch: each purchase's conversion path is the run of non-"
    "purchase touches since the user's previous purchase (path id = "
    "running purchase count, one cumulative window); within a path "
    "the first and last touch each earn 40% of the purchase value, "
    "the middle splits 20% evenly (1 touch takes all, 2 split "
    "50/50), touchless purchases credit 'direct'. Weighted credits "
    "are exact-cents x a closed-form double weight, quantized to "
    "micro-dollars BEFORE summing (the money.py discipline extended "
    "to fractional weights), so both engines agree bit-for-bit in "
    "any aggregation order. Scale: the path segmentation rides the "
    "SAME user-keyed sort e03/e21 pay; the credit join is user+path "
    "equi-keyed — no path materialization beyond the touch rows "
    "themselves.",
)
def e53_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    wb = W.partitionBy("user_id").orderBy("ts", "event_id")
    is_p = (F.col("event_type") == "purchase").cast("int")
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.sum(is_p).over(wb.rowsBetween(W.unboundedPreceding, 0)).alias("p_inc"),
        F.sum(is_p).over(wb.rowsBetween(W.unboundedPreceding, -1)).alias("p_before"),
    )
    tw = W.partitionBy("user_id", F.coalesce(F.col("p_before"), F.lit(0)))
    touches = seq.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("channel"),
        (F.coalesce(F.col("p_before"), F.lit(0)) + 1).alias("path"),
        F.row_number().over(tw.orderBy("ts", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(tw).alias("n"),
    )
    purchases = seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("p_inc").alias("idx"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )
    t = touches.alias("t")
    p = purchases.alias("p")
    weight = (
        F.when(F.col("t.channel").isNull(), F.lit(1.0))
        .when(F.col("t.n") == 1, F.lit(1.0))
        .when(F.col("t.n") == 2, F.lit(0.5))
        .when((F.col("t.rn") == 1) | (F.col("t.rn") == F.col("t.n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("t.n") - 2))
    )
    credits = p.join(
        t,
        (F.col("p.user_id") == F.col("t.user_id")) & (F.col("p.idx") == F.col("t.path")),
        "left",
    ).select(
        F.coalesce(F.col("t.channel"), F.lit("direct")).alias("channel"),
        F.floor(
            F.col("p.cents").cast("double") * weight * F.lit(10000.0) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("credit_q"),
    )
    return (
        credits.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            fround(F.sum("credit_q").cast("double") / F.lit(float(_Q6)), 4).alias(
                "attributed_value"
            ),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# m19 — asset integrity screen: real checksum/structure verification
# ---------------------------------------------------------------------------


@query(
    "m19_asset_integrity",
    oracle="""
    WITH a AS (
        SELECT i,
               CASE WHEN i % 3 = 0 THEN
                        (CASE WHEN (i // 3) % 2 = 1 THEN 'jpeg' ELSE 'png' END)
                    WHEN i % 3 = 1 THEN 'wav' ELSE 'avi' END AS fmt,
               CASE WHEN i % 5 = 3 THEN 'truncated'
                    WHEN i % 5 = 2 AND i % 3 = 0 AND (i // 3) % 2 = 0
                         THEN 'crc_mismatch'
                    ELSE 'ok' END AS verdict
        FROM (SELECT unnest(generate_series(0, 119)) AS i) t
    )
    SELECT fmt, verdict, CAST(COUNT(*) AS BIGINT) AS n
    FROM a GROUP BY fmt, verdict
    ORDER BY fmt, verdict
    """,
    doc="Asset integrity screen over REAL container bytes with REAL "
    "injected damage — the quarantine gate a multimodal ingest runs "
    "before paying decode cost: operators/multimodal.corrupt_assets "
    "deterministically flips one payload byte (asset_id % 5 == 2) or "
    "truncates 7 tail bytes (% 5 == 3), and asset_integrity validates "
    "structure for real — PNG walks every chunk and verifies each "
    "zlib.crc32, JPEG checks SOI..EOI framing, WAV/AVI check the "
    "RIFF size invariant. The oracle enumerates the expected verdict "
    "per asset PURELY ARITHMETICALLY (the damage pattern is a "
    "function of asset_id; the flip offset is provably inside PNG's "
    "IDAT payload / other formats' checksum-free payload), so one "
    "mis-implemented CRC walk or size check flips a count. The "
    "result also DOCUMENTS the containers' blind spots, measured: "
    "flipped bytes in JPEG/WAV/AVI read 'ok' (no checksum in the "
    "container) while PNG catches them — why content hashes ride "
    "beside container checks in production. Scale: two shuffle-free "
    "narrow Arrow maps and one tiny groupBy; the screen is "
    "embarrassingly parallel over asset partitions.",
)
def m19_asset_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        asset_integrity,
        corrupt_assets,
        make_real_assets,
    )

    assets = make_real_assets(spark, 120)
    res = asset_integrity(corrupt_assets(assets))
    return (
        res.groupBy("fmt", "verdict")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("fmt", "verdict")
    )
