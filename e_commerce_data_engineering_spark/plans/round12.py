"""Round-12 additions: personalized PageRank (random-walk-with-restart,
the recommender-graph operator g01/g02 don't cover), Zipf-slope fit per
source, discrete-time session hazard, containment (asymmetric-Jaccard)
dedup pairs, hash-checked REAL audio decode, IDF-weighted soft Jaccard,
and the LinearCounting distinct estimator — all DataFrame/SQL plans
with DuckDB oracle twins, following the repo's integer-quantization
discipline (plans/money.py) so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..frames import tier
from ..functions.text import tokens
from ..operators.sketch import _P1, portable_hash, sql_portable_hash
from ..sources.tables import load_table
from .advanced import _D09_HASH_S, D14_MAX_DF
from .money import fround, sql_fround
from .registry import query
from .similarity import _SQL_DOT_QC, _SQL_NORM_C, _SQL_NORM_Q, N_QUERY_VECS
from .text import _DUCK_TOKS

_Q12 = "1000000000000.0"  # 1e-12 quantization (the g02 discipline)


# ---------------------------------------------------------------------------
# g17 — personalized PageRank (random walk with restart) from a seed
# set: the "similar to THESE" graph ranking a recommender pipeline runs
# where g01/g02's global PageRank answers "important overall"
# ---------------------------------------------------------------------------

_G17_SEEDS = ("s1", "s2", "s3")
_G17_SEED_SQL = ", ".join(f"'{s}'" for s in _G17_SEEDS)
_G17_TOPK = 15


def _symmetric_edges(p: DataFrame, n_parts: int) -> DataFrame:
    """Both directions of every (src, dst) edge, hash-clustered on src
    (the g17/g18/g19 tier build)."""
    both = p.unionAll(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return both.repartition(n_parts, "src")


@query(
    "g17_personalized_pagerank",
    oracle=f"""
    WITH p AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    seeds AS (SELECT unnest([{_G17_SEED_SQL}]) AS node),
    c1 AS (
        SELECT e.dst AS node,
               CAST(SUM(CAST(FLOOR((1.0 / 3) / deg * {_Q12} + 0.5) AS BIGINT))
                    AS BIGINT) AS cq
        FROM e JOIN outdeg USING (src) JOIN seeds s ON s.node = e.src
        GROUP BY e.dst
    ),
    r1 AS (
        SELECT node, CAST(FLOOR(SUM(rp) * {_Q12} + 0.5) AS BIGINT) AS r1q
        FROM (SELECT node, 0.85 * (cq / {_Q12}) AS rp FROM c1
              UNION ALL SELECT node, 0.15 / 3 AS rp FROM seeds)
        GROUP BY node
    ),
    c2 AS (
        SELECT e.dst AS node,
               CAST(SUM(CAST(FLOOR(CAST(r1q AS DOUBLE) / deg + 0.5) AS BIGINT))
                    AS BIGINT) AS cq
        FROM e JOIN outdeg USING (src) JOIN r1 ON r1.node = e.src
        GROUP BY e.dst
    ),
    r2 AS (
        SELECT node, SUM(rp) AS r2
        FROM (SELECT node, 0.85 * (cq / {_Q12}) AS rp FROM c2
              UNION ALL SELECT node, 0.15 / 3 AS rp FROM seeds)
        GROUP BY node
    )
    SELECT node, {sql_fround("r2", 10)} AS rank
    FROM r2
    ORDER BY rank DESC, node
    LIMIT {_G17_TOPK}
    """,
    doc="Personalized PageRank (random walk with restart, alpha = "
    "0.85) from a 3-supplier seed set over the UNDIRECTED supplier-"
    "customer transaction graph, two statically-unrolled steps — the "
    "'entities similar to THESE' ranking a recommender / entity-"
    "resolution pipeline runs, where g01/g02's global PageRank ranks "
    "overall importance (Jeh & Widom 2003; Pinterest's Pixie runs "
    "exactly this walk at scale). Restart mass 0.15 returns to the "
    "seeds (never uniform), so rank concentrates in the seeds' "
    "neighborhood; the bidirectional edge union means no dangling "
    "nodes. Per-edge contributions are quantized to 1e-12 integers "
    "before summing (the g02 discipline), ranks re-quantized between "
    "steps, so both engines produce bit-identical walks in any sum "
    "order. Scale: each step is one edge join + one aggregate; the "
    "frontier after k steps is the k-hop neighborhood, so cost tracks "
    "seed-locality, not graph size — the property that makes RWR "
    "viable on a 100 TB graph when global PageRank is a full-graph "
    "sweep.",
)
def g17_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    # Persisted CLUSTERED ON src AT LOW PARTITION COUNT: a bare persist
    # here pins 200-partition cache output that AQE cannot coalesce
    # (canChangeCachedPlanOutputPartitioning is off by default) — 2400
    # near-empty tasks, 42 s at sf0.01. Repartitioning to
    # defaultParallelism first fixes BOTH costs: hash partitioning on
    # src at ANY partition count satisfies the ClusteredDistribution
    # the outdeg groupBy and the two per-step src-joins require, so the
    # cached frame feeds three consumers with no exchange and no
    # 200-task stages (sf0.1 bench: 7.5 s rebuilt-3x -> ~3 s cached).
    # r12: the persist is additionally forced through the scratch-
    # parquet frame tier — its three consumers start concurrently
    # inside one composed plan and a LAZY persist let them race and
    # each rebuild the lineitem⋈orders distinct (guide §2.4).
    e = tier(
        _symmetric_edges, p, n_parts=max(spark.sparkContext.defaultParallelism, 8)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seeds = spark.createDataFrame([(s,) for s in _G17_SEEDS], "node string")
    q = float(_Q12)

    def with_restart(contrib: DataFrame) -> DataFrame:
        """Combine a step's contribution frame with the seed restart
        mass as UNION ALL + one re-aggregate — NOT a full-outer join
        (whose build side Spark refuses to broadcast) and NOT a
        left+anti pair (which consumes `contrib` twice, doubling the
        unrolled lineage per step: 439 plan lines / 42 join instances
        / 63 s at sf0.01 in the first draft). The per-node sum has at
        most two addends, and two-term IEEE addition is commutative,
        so the result is bit-identical to the joined form."""
        return (
            contrib.select("node", (F.lit(0.85) * (F.col("cq") / q)).alias("rp"))
            .unionByName(seeds.select("node", F.lit(0.15 / 3).alias("rp")))
            .groupBy("node")
            .agg(F.sum("rp").alias("r"))
        )

    c1 = (
        e.join(outdeg, "src")
        .join(F.broadcast(seeds.withColumnRenamed("node", "src")), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(
            F.sum(
                F.floor((F.lit(1.0 / 3) / F.col("deg")) * q + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cq")
        )
    )
    r1 = with_restart(c1).select(
        "node", F.floor(F.col("r") * q + F.lit(0.5)).cast("bigint").alias("r1q")
    )
    c2 = (
        e.join(outdeg, "src")
        .join(r1.withColumnRenamed("node", "src"), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(
            F.sum(
                F.floor(F.col("r1q").cast("double") / F.col("deg") + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cq")
        )
    )
    r2 = with_restart(c2).withColumnRenamed("r", "r2")
    return (
        r2.select("node", fround(F.col("r2").cast("double"), 10).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(_G17_TOPK)
    )


# ---------------------------------------------------------------------------
# t77 — Zipf slope per source: OLS fit of ln(freq) on ln(rank), the
# one-number language-naturalness screen a corpus QA pass runs
# ---------------------------------------------------------------------------

_T77_TOPR = 25  # fit over each source's top-R token ranks
_T77_Q = "1000000.0"  # 1e-6 log-point quantization (int64-safe sums)


@query(
    "t77_zipf_slope",
    oracle=f"""
    WITH tf AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents)
        GROUP BY source, tok
    ),
    ranked AS (
        SELECT source, freq,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY freq DESC, tok) AS rnk
        FROM tf
    ),
    pts AS (
        SELECT source,
               CAST(FLOOR(ln(rnk) * {_T77_Q} + 0.5) AS BIGINT) AS xq,
               CAST(FLOOR(ln(freq) * {_T77_Q} + 0.5) AS BIGINT) AS yq
        FROM ranked WHERE rnk <= {_T77_TOPR}
    ),
    sums AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
               CAST(SUM(xq * yq) AS BIGINT) AS sxy,
               CAST(SUM(xq * xq) AS BIGINT) AS sxx
        FROM pts GROUP BY source
    )
    SELECT source, n AS n_points,
           {sql_fround(
               "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
               " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)",
               6,
           )} AS zipf_slope,
           {sql_fround(
               "(CAST(sy AS DOUBLE) / n - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
               " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
               f" * (CAST(sx AS DOUBLE) / n)) / {_T77_Q}",
               6,
           )} AS ln_intercept
    FROM sums
    """,
    doc="Zipf-slope fit per source: OLS regression of ln(freq) on "
    f"ln(rank) over each source's top-{_T77_TOPR} token ranks — "
    "natural language sits near slope -1 (Zipf 1949), and a source "
    "whose slope collapses toward 0 (uniform token use) or dives "
    "steeply (template spam) fails the corpus-naturalness screen "
    "LLM-data pipelines run per feed. Log-points are quantized to "
    "1e-6 integers BEFORE the moment sums (ln is evaluated once per "
    "point in both engines; sums are exact integer adds, so sum "
    "order cannot move the fit), and the closed-form slope/intercept "
    "is the identical IEEE expression over the integer moments on "
    "both sides. Scale: token-frequency aggregate (one shuffle), "
    f"per-source top-{_T77_TOPR} window, {_T77_TOPR}-point closed-"
    "form fit — no iteration, driver sees nothing.",
)
def t77_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tq = float(_T77_Q)
    tf = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = tf.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.col("freq").desc(), "tok")
        ),
    ).filter(F.col("rnk") <= _T77_TOPR)
    pts = ranked.select(
        "source",
        F.floor(F.log(F.col("rnk")) * tq + F.lit(0.5)).cast("bigint").alias("xq"),
        F.floor(F.log(F.col("freq")) * tq + F.lit(0.5)).cast("bigint").alias("yq"),
    )
    sums = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("sx"),
        F.sum("yq").cast("bigint").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("bigint").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (nd * F.col("sxx") - sxd * F.col("sx"))
    intercept = (F.col("sy").cast("double") / F.col("n") - slope * (sxd / F.col("n"))) / tq
    return sums.select(
        "source",
        F.col("n").alias("n_points"),
        fround(slope, 6).alias("zipf_slope"),
        fround(intercept, 6).alias("ln_intercept"),
    )


# ---------------------------------------------------------------------------
# e50 — discrete-time session hazard: P(session ends at its k-th event
# | it reached k events) — the survival curve behind session-length
# engagement analysis
# ---------------------------------------------------------------------------

_E50_MAXK = 10


@query(
    "e50_hazard_rate",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > 1800000
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    ),
    lens AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS len
        FROM sessions GROUP BY user_id, session_id
    ),
    hist AS (SELECT len, CAST(COUNT(*) AS BIGINT) AS cnt FROM lens GROUP BY len),
    ks AS (SELECT unnest(generate_series(1, {_E50_MAXK})) AS k)
    SELECT CAST(k AS INTEGER) AS k,
           CAST(SUM(cnt) AS BIGINT) AS n_at_risk,
           CAST(SUM(CASE WHEN len = k THEN cnt ELSE 0 END) AS BIGINT) AS n_ended,
           {sql_fround(
               "CAST(SUM(CASE WHEN len = k THEN cnt ELSE 0 END) AS DOUBLE)"
               " / SUM(cnt)",
               6,
           )} AS hazard
    FROM ks JOIN hist ON hist.len >= ks.k
    GROUP BY k
    """,
    doc="Discrete-time hazard of session termination: for each event "
    f"index k = 1..{_E50_MAXK}, the probability a session ends at its "
    "k-th event given it reached k events — the life-table readout "
    "(Kaplan-Meier's discrete twin) engagement analysis derives "
    "churn-by-depth from, where e03 reports only the mean session "
    "length. Sessions are e03's 30-minute-gap definition VERBATIM, "
    "so the two queries share semantics; the hazard is an exact "
    "integer ratio per k (counts from the session-length histogram; "
    "the >= join runs on the HISTOGRAM, never the session table — "
    "max-length x K rows). Scale: sessionization is the same two "
    "windows as e03; everything after is histogram-sized.",
)
def e50_hazard_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    prev_ms = F.lag(ms).over(w)
    flagged = e.select(
        "user_id",
        "ts",
        F.when(prev_ms.isNull() | ((ms - prev_ms) > 1800000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    wsum = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    lens = (
        flagged.select("user_id", F.sum("new_session").over(wsum).alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    )
    hist = lens.groupBy("len").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ks = spark.range(1, _E50_MAXK + 1).select(F.col("id").cast("int").alias("k"))
    joined = F.broadcast(ks).join(hist, hist["len"] >= ks["k"])
    ended = F.sum(F.when(F.col("len") == F.col("k"), F.col("cnt")).otherwise(F.lit(0)))
    return joined.groupBy("k").agg(
        F.sum("cnt").cast("bigint").alias("n_at_risk"),
        ended.cast("bigint").alias("n_ended"),
        fround(ended.cast("double") / F.sum("cnt"), 6).alias("hazard"),
    )


# ---------------------------------------------------------------------------
# x23 — LinearCounting distinct estimator (Whang et al. 1990): the
# m-bit-bitmap cardinality sketch HLL degrades to at low cardinality,
# audited against exact distincts on four key columns
# ---------------------------------------------------------------------------

_X23_M = 65536


def _x23_sql_arm(label: str, key_sql: str, table: str) -> str:
    h = sql_portable_hash(key_sql)
    return f"""
    SELECT '{label}' AS key_set,
           CAST((SELECT COUNT(DISTINCT {key_sql}) FROM {table}) AS BIGINT) AS n_exact,
           CAST({_X23_M} - COUNT(DISTINCT ({h}) % {_X23_M}) AS BIGINT) AS n_zero
    FROM {table}"""


@query(
    "x23_linear_counting",
    oracle=f"""
    WITH arms AS (
        {_x23_sql_arm("customer", "'c' || CAST(o_custkey AS VARCHAR)", "orders")}
        UNION ALL
        {_x23_sql_arm("order", "'o' || CAST(o_orderkey AS VARCHAR)", "orders")}
        UNION ALL
        {_x23_sql_arm("user", "'u' || CAST(user_id AS VARCHAR)", "events")}
        UNION ALL
        {_x23_sql_arm("part", "'p' || CAST(l_partkey AS VARCHAR)", "lineitem")}
    )
    SELECT key_set, n_exact,
           CAST({_X23_M} - n_zero AS BIGINT) AS n_buckets,
           {sql_fround(f"{_X23_M} * ln({_X23_M} / CAST(n_zero AS DOUBLE))", 4)}
               AS lc_estimate,
           {sql_fround(
               f"({_X23_M} * ln({_X23_M} / CAST(n_zero AS DOUBLE)) - n_exact)"
               " / n_exact",
               6,
           )} AS rel_err
    FROM arms
    """,
    doc="LinearCounting cardinality estimator (Whang-Vander-Zanden-"
    f"Taylor 1990): hash each key into an m = {_X23_M} bucket bitmap "
    "and estimate n^ = m ln(m/z) from the count of EMPTY buckets z — "
    "the low-cardinality regime estimator HLL implementations "
    "(including Spark's approx_count_distinct) switch to below ~2.5m, "
    "audited here against exact distincts on four key columns "
    "spanning three load factors (users ~0.02, parts ~0.3, orders "
    "~2+ where the log-scaled bias correction is genuinely "
    "exercised). The bucket hash is the engine-portable Horner fold "
    "(operators/sketch.portable_hash), so both engines fill the "
    "IDENTICAL bitmap — estimate and relative error are bit-equal. "
    "Scale: the bitmap is m integers however large the table; "
    "count-distinct-of-bucket is a map-side-combinable aggregate, "
    "and per-shard bitmaps merge by OR (union of occupied buckets) — "
    "the mergeability that makes LC a per-partition ingest statistic "
    "at 100 TB.",
)
def x23_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _X23_M

    # r13 (guide §2.3 "aggregate before you shuffle"): the first draft
    # ran one agg with TWO count-distincts per arm — Catalyst plans
    # that via Expand (every fact row duplicated, once per distinct
    # key), shuffling 2x the table with string keys. Now: distinct-k
    # first (map-side partial), then a bucket-grain rollup — n_exact =
    # SUM of per-bucket distinct counts, n_zero = m - occupied-bucket
    # count. No Expand, both shuffles map-side combinable, the second
    # over <= 65536 rows. Identical integers by construction.
    def arm(label: str, df: DataFrame, key: F.Column) -> DataFrame:
        bucket = portable_hash(F.col("k")) % m
        per_bucket = (
            df.select(key.alias("k"))
            .distinct()
            .groupBy(bucket.alias("_b"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        return per_bucket.agg(
            F.lit(label).alias("key_set"),
            # coalesce: an empty arm must read n_exact = 0 (as the old
            # countDistinct did), not NULL from SUM-over-nothing
            F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias("n_exact"),
            (F.lit(m) - F.count(F.lit(1))).cast("bigint").alias("n_zero"),
        )

    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    arms = (
        arm("customer", orders, F.concat(F.lit("c"), F.col("o_custkey").cast("string")))
        .unionByName(
            arm("order", orders, F.concat(F.lit("o"), F.col("o_orderkey").cast("string")))
        )
        .unionByName(
            arm("user", events, F.concat(F.lit("u"), F.col("user_id").cast("string")))
        )
        .unionByName(
            arm("part", li, F.concat(F.lit("p"), F.col("l_partkey").cast("string")))
        )
    )
    est = F.lit(float(m)) * F.log(F.lit(m) / F.col("n_zero").cast("double"))
    return arms.select(
        "key_set",
        "n_exact",
        (F.lit(m) - F.col("n_zero")).cast("bigint").alias("n_buckets"),
        fround(est, 4).alias("lc_estimate"),
        fround((est - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# d24 — containment (asymmetric-Jaccard) pairs: subset duplication the
# symmetric Jaccard threshold misses (a doc pasted inside a longer one)
# ---------------------------------------------------------------------------

# the d18/d14 shared candidate machinery, re-stated for this oracle:
# shingle sets, rare-anchored (df in [2, max_df]) candidate pairs
_D24_CAND_SQL = f"""
    sh AS (
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
    )"""


@query(
    "d24_containment_pairs",
    oracle=f"""
    WITH {_D24_CAND_SQL},
    sized AS (
        SELECT id_a, id_b,
               CAST(len(list_intersect(x.shl, y.shl)) AS BIGINT) AS n_inter,
               CAST(len(x.shl) AS BIGINT) AS n_a,
               CAST(len(y.shl) AS BIGINT) AS n_b
        FROM cand
        JOIN sh x ON x.doc_id = cand.id_a
        JOIN sh y ON y.doc_id = cand.id_b
    )
    SELECT id_a, id_b, n_inter, n_a, n_b,
           {sql_fround("CAST(n_inter AS DOUBLE) / n_a", 6)} AS contain_ab,
           {sql_fround("CAST(n_inter AS DOUBLE) / n_b", 6)} AS contain_ba
    FROM sized
    WHERE 5 * n_inter >= 4 * n_a OR 5 * n_inter >= 4 * n_b
    """,
    doc="Containment (asymmetric Jaccard) near-dup pairs: |A∩B|/|A| "
    "and |A∩B|/|B| over the shared rare-anchored candidate set — the "
    "detector for SUBSET duplication (one document pasted inside a "
    "longer one), which the symmetric Jaccard the d09/d18 family "
    "thresholds on structurally misses: a 100-shingle doc embedded "
    "in a 1000-shingle doc has J = 0.1 but containment 1.0 (Broder "
    "1997 defines both; CC-style web dedup runs containment beside "
    "resemblance for exactly this case). The 0.8 threshold is the "
    "exact integer predicate 5*n_inter >= 4*|side| (no float in the "
    "decision); candidate generation is the df-bounded anchored join "
    "shared with d14/d18 (the same frames.tier entries -> the scratch-"
    "parquet frames are reused, not rebuilt). Scale: pair space is df²-"
    "bounded per rare anchor; the directional ratios are per-pair "
    "arithmetic on three ints.",
)
def d24_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _shingle_frame, anchored_candidate_pairs, join_pair_sides

    d = load_table(spark, sf_dir, "documents")
    # r13: this query never reads _sig, so it consumes the shingle
    # frame directly and skips the 32-perm MinHash signature tower the
    # r12 draft built for nothing. The verify itself DELIBERATELY
    # keeps the array-carry shape (both shingle arrays joined onto the
    # candidate row + one local array_intersect): a posting-grain
    # rewrite was measured 4x SLOWER here (9.6 vs 2.3 s solo at
    # sf0.1) — the anchored candidate set is dense (~1M+ pairs), so
    # exploding candidates x |A| postings shuffles ~100M narrow rows
    # where the arrays cross the pair shuffle once. Posting grain wins
    # only for SELECTIVE candidate sets (the r12 LSH-banded verify);
    # density decides, and this one is measured. The note covers s34:
    # it verifies the same pair set with this same join.
    sh = _shingle_frame(d, "doc_id", "text", 3)
    cand = anchored_candidate_pairs(d, "doc_id", "text", shingle_n=3, max_df=D14_MAX_DF)
    ni = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("bigint")
    sized = join_pair_sides(cand, sh).select(
        "id_a",
        "id_b",
        ni.alias("n_inter"),
        F.size("_sh_a").cast("bigint").alias("n_a"),
        F.size("_sh_b").cast("bigint").alias("n_b"),
    )
    return sized.filter(
        (5 * F.col("n_inter") >= 4 * F.col("n_a"))
        | (5 * F.col("n_inter") >= 4 * F.col("n_b"))
    ).select(
        "id_a",
        "id_b",
        "n_inter",
        "n_a",
        "n_b",
        fround(F.col("n_inter").cast("double") / F.col("n_a"), 6).alias("contain_ab"),
        fround(F.col("n_inter").cast("double") / F.col("n_b"), 6).alias("contain_ba"),
    )


# ---------------------------------------------------------------------------
# s34 — IDF-weighted soft Jaccard over shingle sets: rare shared
# shingles count for more than boilerplate, on the same pair universe
# ---------------------------------------------------------------------------

_S34_Q = "1000000.0"  # 1e-6 idf quantization


def _s34_idf(sh: DataFrame, q: float) -> DataFrame:
    """(s, idfq): every shingle's idf, quantized to integers once. _sh
    is per-doc distinct, so a row count per shingle is its df."""
    nd = sh.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        sh.select(F.explode("_sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .crossJoin(F.broadcast(nd))
        .select(
            "s",
            F.floor(
                F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) * q + F.lit(0.5)
            )
            .cast("bigint")
            .alias("idfq"),
        )
    )


def _s34_idf_mass(sh: DataFrame, idf: DataFrame) -> DataFrame:
    """(_id, _sh, w): each document's shingle set beside its idf mass
    (the union term's parts), so one join per pair side brings both."""
    w = (
        sh.select("_id", F.explode("_sh").alias("s"))
        .join(idf, "s")
        .groupBy("_id")
        .agg(F.sum("idfq").cast("bigint").alias("w"))
    )
    return sh.join(w, "_id")


@query(
    "s34_idf_soft_jaccard",
    oracle=f"""
    WITH {_D24_CAND_SQL},
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sh),
    dfq AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, unnest(shl) AS s FROM sh)
        GROUP BY s
    ),
    idf AS (
        SELECT s,
               CAST(FLOOR(ln((n + 1.0) / (df + 1.0)) * {_S34_Q} + 0.5) AS BIGINT)
                   AS idfq
        FROM dfq CROSS JOIN nd
    ),
    wdoc AS (
        SELECT doc_id, CAST(SUM(idfq) AS BIGINT) AS w
        FROM (SELECT DISTINCT doc_id, unnest(shl) AS s FROM sh)
        JOIN idf USING (s)
        GROUP BY doc_id
    ),
    wint AS (
        SELECT id_a, id_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter,
               CAST(SUM(idfq) AS BIGINT) AS wi
        FROM (
            SELECT id_a, id_b, unnest(list_intersect(x.shl, y.shl)) AS s
            FROM cand
            JOIN sh x ON x.doc_id = cand.id_a
            JOIN sh y ON y.doc_id = cand.id_b
        )
        JOIN idf USING (s)
        GROUP BY id_a, id_b
    )
    SELECT w.id_a, w.id_b, w.n_inter,
           {sql_fround(
               "CAST(wi AS DOUBLE) / (wa.w + wb.w - wi)",
               6,
           )} AS soft_jaccard,
           {sql_fround(
               f"CAST(wi AS DOUBLE) / {_S34_Q}",
               6,
           )} AS idf_overlap
    FROM wint w
    JOIN wdoc wa ON wa.doc_id = w.id_a
    JOIN wdoc wb ON wb.doc_id = w.id_b
    """,
    doc="IDF-weighted (soft) Jaccard over shingle sets on the shared "
    "rare-anchored pair universe: sum of idf over the intersection "
    "divided by idf-mass of the union — boilerplate shingles every "
    "document shares contribute ~0 while a rare shared shingle "
    "dominates, which is why weighted resemblance (Broder's weighted "
    "extension; Chum et al. 2008 use exactly idf-weighted set "
    "overlap for near-dup images) re-ranks pairs the unweighted "
    "d09 Jaccard ties. idf = ln((N+1)/(df+1)) is quantized to 1e-6 "
    "integers ONCE per shingle, so every downstream sum is exact "
    "integer arithmetic in any order; the union mass is inclusion-"
    "exclusion (w_a + w_b - w_inter), never a second set pass. "
    "Scale: df table is vocab-sized and map-side combinable; the "
    "pair verify is d24's (both shingle arrays onto the candidate row, "
    "one hash-based array_intersect, linear in |A|+|B|), and the "
    "intersection explode is pair-grain bounded by the df²-capped "
    "candidate set.",
)
def s34_idf_soft_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _shingle_frame, anchored_candidate_pairs, join_pair_sides

    d = load_table(spark, sf_dir, "documents")
    q = float(_S34_Q)
    # d24's verify plus one weighted rollup: both shingle arrays (each
    # beside its document's idf mass) join onto the candidate row, the
    # array-carry shape d24 measured on this dense pair set; their
    # hash-based array_intersect explodes to the shared shingles, and
    # one join against the vocab-sized idf table feeds the per-pair
    # count and idf sum. Linear in |A|+|B| per pair; a pair with an
    # empty intersection (candidates can share a rare anchor HASH
    # without sharing a shingle string) explodes to nothing, exactly
    # like the oracle's wint rollup. Intersecting struct(s, idfq)
    # arrays instead is O(|A|·|B|): array_intersect hashes primitive
    # elements only.
    sh = _shingle_frame(d, "doc_id", "text", 3)
    cand = anchored_candidate_pairs(d, "doc_id", "text", shingle_n=3, max_df=D14_MAX_DF)
    # corpus-level artifacts a pipeline materializes once (the idf
    # table is the classic ingest-time side product)
    idf = tier(_s34_idf, sh, q=q)
    docs = tier(_s34_idf_mass, sh, idf)
    scored = (
        join_pair_sides(cand, docs)
        .select(
            "id_a",
            "id_b",
            "w_a",
            "w_b",
            F.explode(F.array_intersect("_sh_a", "_sh_b")).alias("s"),
        )
        # merge, not broadcast: a broadcast hash table on a string key
        # holds at least one whole memory page (16 MB on a 2 GB driver)
        # on the driver for as long as the executed plan stays
        # reachable; the sort-merge join measured as fast at sf0.1
        .join(idf.hint("merge"), "s")
        .groupBy("id_a", "id_b", "w_a", "w_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_inter"),
            F.sum("idfq").cast("bigint").alias("wi"),
        )
    )
    wi = F.col("wi").cast("double")
    return scored.select(
        "id_a",
        "id_b",
        "n_inter",
        fround(wi / (F.col("w_a") + F.col("w_b") - F.col("wi")), 6).alias("soft_jaccard"),
        fround(wi / q, 6).alias("idf_overlap"),
    )


# ---------------------------------------------------------------------------
# m16 — audio RMS / zero-crossing from REAL WAV decode, hash-checked
# through the generator's closed-form sine samples (m15's discipline
# brought to the audio modality)
# ---------------------------------------------------------------------------


@query(
    "m16_audio_rms_zcr",
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
        SELECT asset_id, sr,
               CAST(TRUNC(32767 * 0.5 * sin(2 * pi() * f * j / sr)) AS BIGINT) AS v,
               j
        FROM (SELECT asset_id, sr, f,
                     unnest(generate_series(0, sr * dur // 1000 - 1)) AS j
              FROM aud)
    ),
    fl AS (
        SELECT asset_id, sr, v,
               CASE WHEN LAG(v) OVER w IS NULL THEN 0
                    WHEN (v < 0) <> (LAG(v) OVER w < 0) THEN 1 ELSE 0 END AS flip
        FROM v
        WINDOW w AS (PARTITION BY asset_id ORDER BY j)
    )
    SELECT asset_id,
           CAST(sr AS INTEGER) AS sample_rate,
           CAST(COUNT(*) AS INTEGER) AS n_samples,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(SUM(flip) AS INTEGER) AS zero_crossings,
           CAST(MAX(ABS(v)) AS INTEGER) AS peak_abs,
           {sql_fround("sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*))", 4)} AS rms
    FROM fl GROUP BY asset_id, sr
    """,
    doc="REAL WAV PCM decode put under the driver's hash gate (the "
    "m07/m15 discipline brought to audio): stdlib wave parse + int16 "
    "sample extraction inside Arrow mapInPandas emits INTEGER moments "
    "— sum of squared samples, signbit-flip zero-crossing count, peak "
    "|sample| (operators/multimodal.audio_pcm_moments) — while the "
    "oracle regenerates the generator's sine samples ARITHMETICALLY "
    "(v = trunc(32767*0.5*sin(2*pi*f*j/sr)), the exact closed form "
    "wav_bytes wrote; both engines call the same libm sin on the "
    "same doubles, verified bit-identical across all 40 tones). One "
    "sample decoded wrong flips sum_sq, so this pins the full RIFF/"
    "fmt/data parse chain, not just headers; RMS derives as "
    "sqrt(sum_sq/n) (IEEE sqrt is correctly rounded — engines agree). "
    "Scale: shuffle-free narrow map over asset-partitioned bytes, "
    "six integers out per asset; zero-crossing rate and RMS are THE "
    "silence/clipping screens an audio curation pipeline batches "
    "this way.",
)
def m16_audio_rms_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import audio_pcm_moments, make_real_assets

    assets = make_real_assets(spark, 120).filter(F.col("modality") == "audio")
    m = audio_pcm_moments(assets)
    return m.select(
        "asset_id",
        "sample_rate",
        "n_samples",
        "sum_sq",
        "zero_crossings",
        "peak_abs",
        fround(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_samples")), 4
        ).alias("rms"),
    )


# ---------------------------------------------------------------------------
# t78 — Heaps'-law fit on shingle types per source: does vocabulary
# keep growing (natural text) or saturate (template spam)?
# ---------------------------------------------------------------------------


@query(
    "t78_heaps_shingle_growth",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, source,
               len(tk) - 2 AS occ,
               list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              for i in range(1, len(tk) - 1)]) AS shl
        FROM (SELECT doc_id, source, {_DUCK_TOKS} AS tk FROM documents)
        WHERE len(tk) >= 3
    ),
    firstocc AS (
        SELECT source, MIN(doc_id) AS fd
        FROM (SELECT DISTINCT doc_id, source, unnest(shl) AS s FROM sh)
        GROUP BY source, s
    ),
    newv AS (
        SELECT source, fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS nv
        FROM firstocc GROUP BY source, fd
    ),
    curve AS (
        SELECT sh.source,
               SUM(sh.occ) OVER w AS n,
               SUM(COALESCE(nv, 0)) OVER w AS v
        FROM sh LEFT JOIN newv
          ON newv.source = sh.source AND newv.doc_id = sh.doc_id
        WINDOW w AS (PARTITION BY sh.source ORDER BY sh.doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pts AS (
        SELECT source,
               CAST(FLOOR(ln(n) * {_T77_Q} + 0.5) AS BIGINT) AS xq,
               CAST(FLOOR(ln(v) * {_T77_Q} + 0.5) AS BIGINT) AS yq
        FROM curve WHERE v >= 1 AND n >= 1
    ),
    sums AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
               CAST(SUM(xq * yq) AS BIGINT) AS sxy,
               CAST(SUM(xq * xq) AS BIGINT) AS sxx
        FROM pts GROUP BY source
    )
    SELECT source, n AS n_points,
           {sql_fround(
               "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
               " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)",
               6,
           )} AS heaps_beta,
           {sql_fround(
               "(CAST(sy AS DOUBLE) / n - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
               " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
               f" * (CAST(sx AS DOUBLE) / n)) / {_T77_Q}",
               6,
           )} AS ln_k
    FROM sums
    """,
    doc="Heaps'-law fit per source over SHINGLE types (the token "
    "vocabulary is a closed 31-word set by construction, so 3-gram "
    "types are where this corpus's vocabulary genuinely grows): OLS "
    "of ln V(n) on ln n along each source's doc_id-ordered growth "
    "curve, where n = cumulative shingle occurrences and V = "
    "cumulative distinct types. Natural text sits at beta ~ 0.4-0.6 "
    "(Heaps 1978); beta -> 0 means the source recycles templates "
    "(dedup it harder), beta -> 1 means near-random strings (garbage "
    "screen) — t77's Zipf slope and this are the two sides of the "
    "same law (Lü et al. 2010). New-type attribution is exact: each "
    "type counts at its FIRST doc (min doc_id within source), so the "
    "curve is one groupBy + one cumulative window, never a per-"
    "prefix recount; log-points quantize to 1e-6 integers before the "
    "moment sums (t77's discipline). Scale: first-occurrence is a "
    "min-aggregate over the exploded type postings (map-side "
    "combinable); the window runs over doc-grain rows.",
)
def t78_heaps_shingle_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_of

    d = load_table(spark, sf_dir, "documents")
    tq = float(_T77_Q)
    tk = tokens(F.col("text"))
    sh = d.select(
        "doc_id",
        "source",
        (F.size(tk) - 2).alias("occ"),
        shingles_of(F.col("text"), 3).alias("shl"),
    ).filter(F.size(tk) >= 3)
    firstocc = (
        sh.select("source", "doc_id", F.explode("shl").alias("s"))
        .distinct()
        .groupBy("source", "s")
        .agg(F.min("doc_id").alias("fd"))
    )
    newv = firstocc.groupBy("source", F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nv")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    curve = (
        sh.join(newv, ["source", "doc_id"], "left")
        .select(
            "source",
            "doc_id",
            F.sum("occ").over(w).alias("n"),
            F.sum(F.coalesce(F.col("nv"), F.lit(0))).over(w).alias("v"),
        )
    )
    pts = curve.filter((F.col("v") >= 1) & (F.col("n") >= 1)).select(
        "source",
        F.floor(F.log(F.col("n")) * tq + F.lit(0.5)).cast("bigint").alias("xq"),
        F.floor(F.log(F.col("v")) * tq + F.lit(0.5)).cast("bigint").alias("yq"),
    )
    sums = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("sx"),
        F.sum("yq").cast("bigint").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("bigint").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (nd * F.col("sxx") - sxd * F.col("sx"))
    lnk = (F.col("sy").cast("double") / F.col("n") - slope * (sxd / F.col("n"))) / tq
    return sums.select(
        "source",
        F.col("n").alias("n_points"),
        fround(slope, 6).alias("heaps_beta"),
        fround(lnk, 6).alias("ln_k"),
    )


# ---------------------------------------------------------------------------
# e51 — first-order Markov transition matrix between event types: the
# behavioral grammar of the clickstream
# ---------------------------------------------------------------------------


@query(
    "e51_markov_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    tr AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM seq WHERE nxt IS NOT NULL
        GROUP BY cur, nxt
    ),
    tot AS (SELECT cur, CAST(SUM(cnt) AS BIGINT) AS t FROM tr GROUP BY cur)
    SELECT tr.cur, tr.nxt, tr.cnt,
           {sql_fround("CAST(tr.cnt AS DOUBLE) / t", 6)} AS p
    FROM tr JOIN tot ON tot.cur = tr.cur
    """,
    doc="First-order Markov transition matrix between event types: "
    "P(next = j | current = i) from each user's ts-ordered event "
    "sequence — the behavioral grammar (view->click->purchase vs "
    "view->error->exit) that funnel analysis (e21's last-touch) "
    "summarizes away; row-normalized counts are the MLE of the chain "
    "(Anderson & Goodman 1957). Transitions never cross users (the "
    "LEAD partitions by user_id), ordering ties break on event_id so "
    "the sequence is engine-deterministic, and probabilities are "
    "exact integer ratios. Scale: one window over the user-clustered "
    "event stream + a |types|² aggregate — the same shape as e03's "
    "sessionizer, output bounded by the type-vocabulary square.",
)
def e51_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tr = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = tr.groupBy("cur").agg(F.sum("cnt").cast("bigint").alias("t"))
    return tr.join(F.broadcast(tot), "cur").select(
        "cur",
        "nxt",
        "cnt",
        fround(F.col("cnt").cast("double") / F.col("t"), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# q130 — RFM segmentation: the classic recency/frequency/monetary
# quartile grid marketing pipelines cut customers by
# ---------------------------------------------------------------------------


@query(
    "q130_rfm_segments",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS recency,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey, monetary_cents,
               NTILE(4) OVER (ORDER BY recency DESC, o_custkey) AS r,
               NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
               NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m
        FROM cust
    )
    SELECT CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f,
           CAST(m AS INTEGER) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_fround(
               "CAST(SUM(monetary_cents) AS DOUBLE) / COUNT(*) / 100.0", 4
           )} AS avg_monetary
    FROM scored GROUP BY r, f, m
    """,
    doc="RFM segmentation (Hughes 1994 — the marketing-analytics "
    "workhorse): per customer, recency = latest order date, frequency "
    "= order count, monetary = lifetime value in exact cents; each "
    "dimension quartiled by NTILE(4) (1 = best) and the 4x4x4 grid "
    "rolled up with its population and mean value — champions sit at "
    "(1,1,1), at-risk big spenders at (4,1,1), the cells a win-back "
    "campaign targets. Determinism: every NTILE rides a TOTAL order "
    "(metric direction + o_custkey tiebreak), and NTILE's ceil-first "
    "bucket-size rule is identical in both engines; monetary is "
    "integer cents end-to-end, so cell means are exact ratios. Scale: "
    "one customer-grain aggregate off orders, three window passes "
    "over the customer frame (fact-table never re-scanned), 64-cell "
    "output.",
)
def q130_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("recency"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    scored = cust.select(
        "o_custkey",
        "monetary_cents",
        F.ntile(4).over(W.orderBy(F.col("recency").desc(), "o_custkey")).alias("r"),
        F.ntile(4).over(W.orderBy(F.col("frequency").desc(), "o_custkey")).alias("f"),
        F.ntile(4)
        .over(W.orderBy(F.col("monetary_cents").desc(), "o_custkey"))
        .alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        fround(
            F.sum("monetary_cents").cast("double") / F.count(F.lit(1)) / 100.0, 4
        ).alias("avg_monetary"),
    )


# ---------------------------------------------------------------------------
# x24 — Bloom-filter join prefilter: k-hash bitmap membership with the
# measured vs theoretical false-positive rate
# ---------------------------------------------------------------------------

_X24_M = 8192  # bits
_X24_K = 3  # hash functions (double hashing, the Kirsch-Mitzenmacher trick)


def _x24_pos_sql(key_sql: str, i: str) -> str:
    from ..operators.sketch import sql_portable_bucket

    return sql_portable_bucket(key_sql, i, _X24_M)


@query(
    "x24_bloom_prefilter",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
        FROM customer WHERE c_acctbal < 0
    ),
    probe AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders),
    bits AS (
        SELECT DISTINCT {_x24_pos_sql("k", "i")} AS pos
        FROM build, (SELECT unnest(generate_series(0, {_X24_K - 1})) AS i) t
    ),
    hits AS (
        SELECT p.k, COUNT(DISTINCT i) AS n_hit
        FROM probe p, (SELECT unnest(generate_series(0, {_X24_K - 1})) AS i) t
        JOIN bits ON bits.pos = {_x24_pos_sql("p.k", "i")}
        GROUP BY p.k
    ),
    passed AS (SELECT k FROM hits WHERE n_hit = {_X24_K}),
    counts AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
                WHERE k IN (SELECT k FROM build)) AS n_true,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM passed) AS n_passed
    )
    SELECT n_build, n_probe, n_true, n_passed,
           CAST(n_passed - n_true AS BIGINT) AS n_false_pos,
           {sql_fround(
               "CAST(n_passed - n_true AS DOUBLE) / (n_probe - n_true)", 6
           )} AS fp_rate,
           {sql_fround(
               f"pow(1.0 - exp(-{_X24_K}.0 * n_build / {_X24_M}.0), {_X24_K})", 6
           )} AS fp_theory
    FROM counts
    """,
    doc="Bloom-filter join prefilter audited end-to-end: the negative-"
    f"balance customer keys populate an m = {_X24_M}-bit filter via "
    f"k = {_X24_K} double-hashed positions (Kirsch-Mitzenmacher 2006 "
    "— two portable Horner hashes generate all k, the same "
    "sql_portable_bucket primitive as the CMS grid), and the order "
    "probe side passes when ALL k bits are set — the runtime-filter "
    "pattern engines push below shuffles to skip never-matching rows "
    "(Spark's own InBloomFilter runtime filter, Impala/Trino's "
    "broadcast runtime filters). Output: measured false-positive "
    "rate beside Bloom's (1970) theoretical (1 - e^(-kn/m))^k — the "
    "sizing check a 100 TB pre-filter deployment reads first. The "
    "bit set is position rows (<= m), broadcastable next to any "
    "probe scan; membership is k equi-joins, never a scan of the "
    "build side per probe row.",
)
def x24_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import _portable_bucket

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = (
        cust.filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").cast("string").alias("k"))
        .distinct()
    )
    probe = orders.select(F.col("o_custkey").cast("string").alias("k")).distinct()
    idx = spark.range(_X24_K).select(F.col("id").cast("bigint").alias("i"))
    bits = (
        build.crossJoin(F.broadcast(idx))
        .select(_portable_bucket(F.col("k"), F.col("i"), _X24_M).alias("pos"))
        .distinct()
    )
    hits = (
        probe.crossJoin(F.broadcast(idx))
        .select("k", "i", _portable_bucket(F.col("k"), F.col("i"), _X24_M).alias("pos"))
        .join(F.broadcast(bits), "pos")
        .groupBy("k")
        .agg(F.countDistinct("i").alias("n_hit"))
    )
    passed = hits.filter(F.col("n_hit") == _X24_K)
    n_build = build.agg(F.count(F.lit(1)).cast("bigint").alias("n_build"))
    n_probe = probe.agg(F.count(F.lit(1)).cast("bigint").alias("n_probe"))
    n_true = (
        probe.join(build, "k", "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    )
    n_passed = passed.agg(F.count(F.lit(1)).cast("bigint").alias("n_passed"))
    fp = (F.col("n_passed") - F.col("n_true")).cast("double") / (
        F.col("n_probe") - F.col("n_true")
    )
    theory = F.pow(
        F.lit(1.0) - F.exp(F.lit(-float(_X24_K)) * F.col("n_build") / F.lit(float(_X24_M))),
        F.lit(_X24_K),
    )
    return (
        n_build.crossJoin(F.broadcast(n_probe))
        .crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_passed))
        .select(
            "n_build",
            "n_probe",
            "n_true",
            "n_passed",
            (F.col("n_passed") - F.col("n_true")).cast("bigint").alias("n_false_pos"),
            fround(fp, 6).alias("fp_rate"),
            fround(theory, 6).alias("fp_theory"),
        )
    )


# ---------------------------------------------------------------------------
# m17 — JPEG quantization-table readback: header-only quality
# fingerprint, hash-checked against the encoder's Annex-K arithmetic
# ---------------------------------------------------------------------------


def _m17_expected() -> list[tuple[int, int, int]]:
    """(table_id, sum_q, checksum) the DQT parse must recover: the
    encoder's own Annex-K tables scaled by quality 90, read in stored
    (zigzag) order — computed from operators/jpeg.py's constants, so
    encoder and oracle cannot drift apart."""
    from ..operators.jpeg import _QT_CHROMA, _QT_LUMA, _ZZ_FLAT, _scale_qt

    rows = []
    for tid, base in ((0, _QT_LUMA), (1, _QT_CHROMA)):
        flat = _scale_qt(base, 90).reshape(-1)
        zz = [int(flat[i]) for i in _ZZ_FLAT]
        rows.append((tid, sum(zz), sum((i + 1) * v for i, v in enumerate(zz))))
    return rows


@query(
    "m17_jpeg_qtable_readback",
    oracle=f"""
    SELECT CAST(table_id AS INTEGER) AS table_id,
           CAST(n_assets AS BIGINT) AS n_assets,
           CAST(sum_q AS BIGINT) AS sum_q,
           CAST(checksum AS BIGINT) AS checksum,
           CAST(n_distinct AS BIGINT) AS n_distinct
    FROM (VALUES
        (0, 20, {_m17_expected()[0][1]}, {_m17_expected()[0][2]}, 1),
        (1, 20, {_m17_expected()[1][1]}, {_m17_expected()[1][2]}, 1)
    ) AS t(table_id, n_assets, sum_q, checksum, n_distinct)
    """,
    doc="JPEG quantization-table readback — the header-only quality "
    "fingerprint an image-curation pipeline reads to filter on "
    "compression quality WITHOUT decoding pixels (the qtable "
    "determines quality; libjpeg/ImageMagick estimate Q from exactly "
    "these sums): the REAL marker-stream parse (SOI->SOS walk, DQT "
    "payloads in stored zigzag order, operators/multimodal."
    "jpeg_dqt_stats) must recover, for every one of the 20 JPEG "
    "assets, bit-for-bit the tables the encoder wrote — Annex-K "
    "bases scaled by the libjpeg quality-90 rule floor((b*20+50)/"
    "100) clipped to [1,255] — and the oracle states those digests "
    "from the encoder's OWN constants (operators/jpeg.py), so a "
    "one-byte parse slip or a scaling drift moves the checksum. "
    "n_distinct = 1 pins that ALL assets carry the identical table "
    "(same quality). Scale: header-only narrow map — bytes read per "
    "asset are O(header), never the entropy-coded body; no shuffle "
    "until the 2-group digest rollup.",
)
def m17_jpeg_qtable_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import jpeg_dqt_stats, make_real_assets

    assets = make_real_assets(spark, 120).filter(F.col("modality") == "image")
    dqt = jpeg_dqt_stats(assets)
    return dqt.groupBy("table_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.max("sum_q").cast("bigint").alias("sum_q"),
        F.max("checksum").cast("bigint").alias("checksum"),
        F.countDistinct("sum_q", "checksum").cast("bigint").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# s35 — hyperplane-LSH bits/tables tuner: d18's banding-curve audit
# brought to the VECTOR side (sign-random-projection collision law)
# ---------------------------------------------------------------------------

# (planes-per-table b, tables L) menu with b*L = 32 — the cosine-LSH
# twin of d18's (bands, rows) menu
S35_CONFIGS = ((4, 8), (8, 4), (16, 2), (32, 1))
_S35_Q = "1000000000.0"  # 1e-9 collision-probability quantization
_S35_TRUE_K = 10  # exact top-k defines the "true neighbor" class


@query(
    "s35_lsh_bits_tuning",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
    scored AS (
        SELECT q_id, c_id,
               CAST(FLOOR((1.0 - acos(LEAST(GREATEST(
                   {_SQL_DOT_QC} / ({_SQL_NORM_Q} * {_SQL_NORM_C}),
                   -1.0), 1.0)) / pi()) * {_S35_Q} + 0.5) AS BIGINT) AS pq
        FROM q CROSS JOIN c WHERE q_id <> c_id
    ),
    ranked AS (
        SELECT q_id, c_id, pq,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY pq DESC, c_id) AS rn
        FROM scored
    ),
    cfg AS (SELECT * FROM (VALUES (4, 8), (8, 4), (16, 2), (32, 1))
            AS t(b, l)),
    chain AS (
        SELECT rn <= {_S35_TRUE_K} AS is_true, b, l,
               pq / {_S35_Q} AS p1
        FROM ranked CROSS JOIN cfg
    ),
    ppow AS (
        SELECT is_true, b, l,
               CASE b WHEN 4 THEN (p1*p1)*(p1*p1)
                      WHEN 8 THEN ((p1*p1)*(p1*p1))*((p1*p1)*(p1*p1))
                      WHEN 16 THEN (((p1*p1)*(p1*p1))*((p1*p1)*(p1*p1)))
                                 * (((p1*p1)*(p1*p1))*((p1*p1)*(p1*p1)))
                      ELSE ((((p1*p1)*(p1*p1))*((p1*p1)*(p1*p1)))
                            * (((p1*p1)*(p1*p1))*((p1*p1)*(p1*p1))))
                           * ((((p1*p1)*(p1*p1))*((p1*p1)*(p1*p1)))
                              * (((p1*p1)*(p1*p1))*((p1*p1)*(p1*p1))))
               END AS pb
        FROM chain
    ),
    catch AS (
        SELECT is_true, b, l,
               CAST(FLOOR((1.0 - CASE l
                   WHEN 1 THEN (1.0 - pb)
                   WHEN 2 THEN (1.0 - pb)*(1.0 - pb)
                   WHEN 4 THEN ((1.0 - pb)*(1.0 - pb))*((1.0 - pb)*(1.0 - pb))
                   ELSE (((1.0 - pb)*(1.0 - pb))*((1.0 - pb)*(1.0 - pb)))
                      * (((1.0 - pb)*(1.0 - pb))*((1.0 - pb)*(1.0 - pb)))
               END) * {_S35_Q} + 0.5) AS BIGINT) AS qp
        FROM ppow
    )
    SELECT CAST(b AS INTEGER) AS planes, CAST(l AS INTEGER) AS tables,
           CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_pairs,
           {sql_fround(
               "CAST(SUM(CASE WHEN is_true THEN qp ELSE 0 END) AS DOUBLE)"
               f" / (SUM(CASE WHEN is_true THEN 1 ELSE 0 END) * {_S35_Q})",
               6,
           )} AS expected_recall,
           {sql_fround(
               "CAST(SUM(CASE WHEN NOT is_true THEN qp ELSE 0 END) AS DOUBLE)"
               f" / (SUM(CASE WHEN NOT is_true THEN 1 ELSE 0 END) * {_S35_Q})",
               6,
           )} AS expected_fp_rate
    FROM catch GROUP BY b, l
    """,
    doc="Hyperplane-LSH (planes b, tables L) tuner — d18's banding-"
    "curve audit brought to the vector side: for sign-random-"
    "projection LSH the single-plane collision probability is "
    "1 - theta/pi (Goemans-Williamson via Charikar 2002), a b-plane "
    "table collides at p^b, and L tables catch with 1-(1-p^b)^L — "
    "this query evaluates the whole b*L = 32 menu against the "
    f"corpus's OWN angle mass: expected recall over each probe's "
    f"exact top-{_S35_TRUE_K} (the class s04 must catch) and expected "
    "false-candidate rate over everything else — the table that "
    "justifies s04's (3 planes x 12 tables) regime with numbers. "
    "Per-pair p quantizes to 1e-9 ONCE (acos is the same libm call "
    "on the same doubles in both engines); p^b and (1-p^b)^L run as "
    "explicit squaring chains (b, L are powers of 2), so both "
    "engines execute the IDENTICAL IEEE sequence; per-pair catch "
    "probabilities re-quantize before the class sums (d18's "
    "discipline end-to-end). Scale: the angle mass comes from the "
    "standard broadcast-probe scan (probes x corpus, never corpus²); "
    "the config fanout is a 4-row broadcast; the rollup is 4 groups.",
)
def s35_lsh_bits_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import N_QUERY_VECS as _NQ
    from .similarity import dot, l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    sq = float(_S35_Q)
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    p = F.lit(1.0) - F.acos(F.least(F.greatest(cos, F.lit(-1.0)), F.lit(1.0))) / F.lit(
        3.141592653589793
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.floor(p * sq + F.lit(0.5)).cast("bigint").alias("pq"),
        )
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("q_id").orderBy(F.col("pq").desc(), "c_id")),
    )
    cfg = spark.createDataFrame(list(S35_CONFIGS), "b int, l int")
    chain = ranked.crossJoin(F.broadcast(cfg)).select(
        (F.col("rn") <= _S35_TRUE_K).alias("is_true"),
        "b",
        "l",
        (F.col("pq") / sq).alias("p1"),
    )

    def sq_chain(col: str, pick_col: str, picks: tuple) -> F.Column:
        c1 = F.col(col)
        c2 = c1 * c1
        c4 = c2 * c2
        c8 = c4 * c4
        c16 = c8 * c8
        c32 = c16 * c16
        pows = {1: c1, 2: c2, 4: c4, 8: c8, 16: c16, 32: c32}
        expr = None
        for k in picks:
            cond = F.col(pick_col) == k
            expr = F.when(cond, pows[k]) if expr is None else expr.when(cond, pows[k])
        return expr

    ppow = chain.withColumn("pb", sq_chain("p1", "b", (4, 8, 16, 32)))
    upow = ppow.withColumn("u1", F.lit(1.0) - F.col("pb"))
    catch = upow.withColumn(
        "qp",
        F.floor(
            (F.lit(1.0) - sq_chain("u1", "l", (1, 2, 4, 8))) * sq + F.lit(0.5)
        ).cast("bigint"),
    )
    t = F.col("is_true")
    agg = catch.groupBy("b", "l").agg(
        F.sum(F.when(t, 1).otherwise(0)).cast("bigint").alias("n_true_pairs"),
        F.sum(F.when(t, F.col("qp")).otherwise(F.lit(0))).cast("bigint").alias("s_t"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("bigint").alias("n_sub"),
        F.sum(F.when(~t, F.col("qp")).otherwise(F.lit(0))).cast("bigint").alias("s_f"),
    )
    return agg.select(
        F.col("b").alias("planes"),
        F.col("l").alias("tables"),
        "n_true_pairs",
        fround(F.col("s_t").cast("double") / (F.col("n_true_pairs") * sq), 6).alias(
            "expected_recall"
        ),
        fround(F.col("s_f").cast("double") / (F.col("n_sub") * sq), 6).alias(
            "expected_fp_rate"
        ),
    )


# ---------------------------------------------------------------------------
# e52 — time-boxed funnel: view -> click -> purchase, each step within
# one hour of the previous — ordered-subsequence conversion counting
# ---------------------------------------------------------------------------

_E52_WINDOW_MS = 3_600_000


@query(
    "e52_funnel_conversion",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS vt FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS ct
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.vt
          AND epoch_ms(e.ts) - epoch_ms(v.vt) <= {_E52_WINDOW_MS}
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS pt
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.ct
          AND epoch_ms(e.ts) - epoch_ms(c.ct) <= {_E52_WINDOW_MS}
        GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase,
           {sql_fround(
               "CAST((SELECT COUNT(*) FROM c) AS DOUBLE)"
               " / (SELECT COUNT(*) FROM v)", 6
           )} AS view_to_click,
           {sql_fround(
               "CAST((SELECT COUNT(*) FROM p) AS DOUBLE)"
               " / NULLIF((SELECT COUNT(*) FROM c), 0)", 6
           )} AS click_to_purchase
    """,
    doc="Time-boxed conversion funnel (view -> click -> purchase, each "
    "step within one hour of the previous): the ORDERED-subsequence "
    "matching every product-analytics engine ships as its funnel "
    "primitive — strictly after the anchor AND inside the window, so "
    "a click before the first view or a purchase three days later "
    "does not convert; e21's last-touch answers who gets credit, "
    "this answers how many make it through. Each stage is one "
    "min-aggregate + one equi-join against the previous stage's "
    "user-grain anchors (never a window over the raw stream, never "
    "per-user sequence materialization), so the funnel depth costs "
    "one join per step at any scale; all counts are exact integers, "
    "rates exact ratios. Scale: events scanned once per stage with "
    "the event-type filter pushed to parquet; anchors are user-grain "
    "(small) join sides.",
)
def e52_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("vt"))
            & (ms - F.unix_millis(F.col("vt").cast("timestamp")) <= _E52_WINDOW_MS)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("ct"))
            & (ms - F.unix_millis(F.col("ct").cast("timestamp")) <= _E52_WINDOW_MS)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    nv = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            fround(F.col("n_click").cast("double") / F.col("n_view"), 6).alias(
                "view_to_click"
            ),
            fround(
                F.col("n_purchase").cast("double")
                / F.nullif(F.col("n_click").cast("double"), F.lit(0.0)),
                6,
            ).alias("click_to_purchase"),
        )
    )
