"""Scalar-function and remaining-operator batteries rounding out
SURVEY §2 coverage: math, regex/string matching, interval arithmetic,
UNION DISTINCT, HAVING, approximate aggregates, and the end-to-end
generator→enrichment pipeline entry."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .money import sql_fround, fround
from .registry import query


@query(
    "q23_math_funcs",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 50000.0)            AS abs_diff,
           {sql_fround("SQRT(l_extendedprice)", 4)}  AS sqrt_price,
           {sql_fround("LN(l_extendedprice)", 6)}    AS ln_price,
           {sql_fround("POWER(l_discount, 2)", 6)}   AS disc_sq,
           GREATEST(l_quantity, 25.0)                AS qty_floor25,
           LEAST(l_quantity, 25.0)                   AS qty_cap25,
           CAST(CEIL(l_extendedprice) AS BIGINT)     AS price_ceil,
           CAST(FLOOR(l_extendedprice) AS BIGINT)    AS price_floor,
           MOD(CAST(l_orderkey AS BIGINT), 7)        AS key_mod7
    FROM lineitem
    WHERE l_linenumber = 1 AND l_extendedprice > 0
    """,
    doc="Math scalar battery: abs/sqrt/ln/power/greatest/least/ceil/"
    "floor/mod (SURVEY §2.8 — reference uses only abs, processor:116).",
)
def q23_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter((F.col("l_linenumber") == 1) & (F.col("l_extendedprice") > 0))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_extendedprice") - 50000.0).alias("abs_diff"),
            fround(F.sqrt("l_extendedprice"), 4).alias("sqrt_price"),
            fround(F.log("l_extendedprice"), 6).alias("ln_price"),
            fround(F.pow("l_discount", 2), 6).alias("disc_sq"),
            F.greatest("l_quantity", F.lit(25.0)).alias("qty_floor25"),
            F.least("l_quantity", F.lit(25.0)).alias("qty_cap25"),
            F.ceil("l_extendedprice").alias("price_ceil"),
            F.floor("l_extendedprice").alias("price_floor"),
            F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod7"),
        )
    )


@query(
    "q24_regex_like",
    oracle="""
    SELECT p_partkey, p_name, p_brand,
           (p_name LIKE '%re%')                           AS has_re,
           regexp_matches(p_type, '^(PROMO|ECONOMY)')     AS is_promo_eco,
           regexp_extract(p_brand, '([0-9]+)', 1)         AS brand_num,
           regexp_replace(p_name, '[aeiou]', '_', 'g')    AS devoweled
    FROM part
    WHERE p_size >= 10
    """,
    doc="Pattern matching: LIKE, regexp match/extract/replace (§2.8 — "
    "not in reference; Athena surface requires them).",
)
def q24_regex_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_size") >= 10)
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            F.col("p_name").like("%re%").alias("has_re"),
            F.col("p_type").rlike("^(PROMO|ECONOMY)").alias("is_promo_eco"),
            F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
            F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        )
    )


@query(
    "q25_interval_arith",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 90 DAY                      AS due_date,
           o_orderdate - INTERVAL 1 MONTH                     AS prev_month,
           CAST(DATE_TRUNC('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
           CAST(DATE_DIFF('day', o_orderdate, TIMESTAMP '2000-01-01') AS INTEGER) AS days_to_y2k,
           CAST(EXTRACT(DOY FROM o_orderdate) AS INTEGER)     AS day_of_year,
           CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
    FROM orders
    WHERE o_orderstatus = 'P'
    """,
    doc="Interval/date arithmetic battery: +interval, date_trunc, "
    "datediff, dayofyear, last_day (§2.8 F20 generalized).",
)
def q25_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "P")
        .select(
            "o_orderkey",
            (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
            (F.col("o_orderdate") - F.expr("INTERVAL 1 MONTH")).alias("prev_month"),
            F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
            F.datediff(F.lit("2000-01-01").cast("timestamp"), F.col("o_orderdate")).alias(
                "days_to_y2k"
            ),
            F.dayofyear("o_orderdate").alias("day_of_year"),
            # cast to timestamp on both sides: DATE vs TIMESTAMP hash differently
            F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        )
    )


@query(
    "q26_union_distinct",
    oracle="""
    SELECT c FROM (
        SELECT o_custkey AS c FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION
        SELECT o_custkey AS c FROM orders WHERE o_totalprice > 400000
    ) t
    """,
    doc="UNION DISTINCT (vs q18's UNION ALL/INTERSECT/EXCEPT) — §2.7.",
)
def q26_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(F.col("o_custkey").alias("c"))
    b = o.filter(F.col("o_totalprice") > 400000).select(F.col("o_custkey").alias("c"))
    return a.union(b).distinct()


@query(
    "q27_having",
    oracle=f"""
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_fround("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)", 4)} AS avg_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 100 AND SUM(CAST(l_quantity AS DECIMAL(12,2))) > 500
    """,
    doc="Post-aggregation HAVING filter with exact-decimal guard (§2.4).",
)
def q27_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .money import dmoney

    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(dmoney("l_quantity")).alias("_qty_sum"),
        )
        .filter((F.col("n_items") > 100) & (F.col("_qty_sum") > 500))
        .select(
            "l_suppkey",
            "n_items",
            fround(F.col("_qty_sum").cast("double") / F.col("n_items"), 4).alias("avg_qty"),
        )
    )


@query(
    "q28_grouping_sets",
    oracle=f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(COUNT(*) AS BIGINT)      AS n,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS (beyond rollup/cube) via the SQL surface.",
)
def q28_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q29_unpivot",
    oracle=f"""
    WITH agg AS (
        SELECT o_orderstatus,
               {sql_fround("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)", 2)} AS revenue,
               CAST(COUNT(*) AS DOUBLE) AS n_orders
        FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'revenue' AS metric, revenue AS value FROM agg
    UNION ALL
    SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM agg
    """,
    doc="Unpivot (wide → long) via stack(); oracle = UNION ALL legs.",
)
def q29_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .money import dmoney

    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        fround(F.sum(dmoney("o_totalprice")).cast("double"), 2).alias("revenue"),
        F.count("*").cast("double").alias("n_orders"),
    )
    return agg.selectExpr(
        "o_orderstatus",
        "stack(2, 'revenue', revenue, 'n_orders', n_orders) AS (metric, value)",
    )


@query(
    "x01_approx_distinct",
    oracle=None,  # HLL sketches differ across engines by design;
    # tests/test_approx.py bounds the error against the exact count
    doc="approx_count_distinct (HyperLogLog++) per returnflag — the "
    "100 TB path for distinct counting (exact twin: q07).",
)
def x01_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    )


@query(
    "x02_approx_quantiles",
    oracle=None,  # sketch-based; bounded vs exact in tests/test_approx.py
    doc="percentile_approx p50/p95/p99 of order value — the sketch path "
    "for quantiles at scale (exact twin: e04's median).",
)
def x02_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5).alias("p50"),
        F.percentile_approx("o_totalprice", 0.95).alias("p95"),
        F.percentile_approx("o_totalprice", 0.99).alias("p99"),
    )


@query(
    "q30_window_misc",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus,
           CAST(DENSE_RANK() OVER w AS INTEGER)  AS drank,
           CAST(NTILE(4) OVER w AS INTEGER)      AS quartile,
           {sql_fround("PERCENT_RANK() OVER w", 6)} AS pct_rank,
           {sql_fround("CUME_DIST() OVER w", 6)}    AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Window-function breadth: dense_rank / ntile / percent_rank / "
    "cume_dist with a unique-tiebreak ordering (§2.5).",
)
def q30_window_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
        fround(F.percent_rank().over(w), 6).alias("pct_rank"),
        fround(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q31_minmax_by",
    oracle="""
    SELECT o_orderstatus,
           CAST(arg_max(o_orderkey, o_totalprice) AS BIGINT) AS top_order,
           CAST(arg_min(o_orderkey, o_totalprice) AS BIGINT) AS bottom_order,
           MAX(o_totalprice) AS top_price,
           MIN(o_totalprice) AS bottom_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Argmax/argmin aggregates (max_by/min_by ⇔ arg_max/arg_min).",
)
def q31_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("top_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("bottom_order"),
        F.max("o_totalprice").alias("top_price"),
        F.min("o_totalprice").alias("bottom_price"),
    )


@query(
    "q32_collect_agg",
    oracle="""
    SELECT n_nationkey,
           array_to_string(list_sort(array_agg(DISTINCT c_mktsegment)), ',') AS segments,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
    doc="Collection aggregate: sorted-distinct collect_set rendered as a "
    "string (deterministic cross-engine form of array output).",
)
def q32_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
            F.count("*").alias("n_customers"),
        )
    )


@query(
    "p01_generate_enrich",
    oracle=None,  # synthetic source, not a driver table (rows-only)
    doc="End-to-end reference pipeline at analytics scale: seeded "
    "generator → validation → 29-col enrichment → classification "
    "rollup (SURVEY §3.1+§3.2 fused; parity pinned by golden tests).",
)
def p01_generate_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from ..functions.enrich import enrich
    from ..functions.validate import split_valid
    from ..sources.generator import generate_orders

    now = dt.datetime(2026, 8, 13, 12, 0, 0, tzinfo=dt.timezone.utc)
    raw = generate_orders(spark, 2000, seed=123, now=now)
    valid, _invalid = split_valid(raw)
    enriched = enrich(valid)
    return enriched.groupBy("order_value_class", "customer_segment", "delivery_priority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("total_amount"), 2).alias("revenue"),
    )


@query(
    "x03_hll_sketch_rollup",
    oracle=None,  # sketch binary layout is engine-specific (rows-only);
    # mergeability is the point and is asserted in the tolerance check below
    doc="Mergeable-sketch rollup (Datasketches HLL): per-source sketches "
    "built in one pass, then UNIONED to a corpus-wide distinct estimate "
    "without rescanning — the re-aggregation pattern that makes tiered "
    "rollups cheap at 100 TB (sketches are the state, not the rows).",
)
def x03_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.hll_sketch_agg(F.col("text")).alias("sk"),
        F.countDistinct("text").alias("exact_distinct"),
    )
    rolled = per_source.agg(
        F.hll_union_agg(F.col("sk")).alias("sk_all"),
        F.sum("exact_distinct").alias("sum_exact"),
    )
    return rolled.select(
        F.hll_sketch_estimate("sk_all").alias("estimated_distinct_texts"),
        "sum_exact",
    )


_VQ = 100  # value quantization: cents (values are 2dp money-like doubles)


@query(
    "q34_corr_stddev_exact",
    oracle=f"""
    WITH q AS (
        SELECT event_type,
               CAST(FLOOR(value * {_VQ} + 0.5) AS BIGINT)              AS x,
               CAST(FLOOR(CAST(user_id AS DOUBLE) * {_VQ} + 0.5) AS BIGINT) AS y
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS HUGEINT) AS sxx, CAST(SUM(y * y) AS HUGEINT) AS syy,
               CAST(SUM(x * y) AS HUGEINT) AS sxy
        FROM q GROUP BY event_type
    )
    SELECT event_type, n,
           {sql_fround(f"sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)) / {_VQ}", 4)} AS stddev_value,
           {sql_fround("(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy) / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))", 4)} AS corr_value_user
    FROM s
    """,
    doc="Correlation/stddev with DETERMINISTIC cross-engine results: both "
    "moments come from exact integer sums (values quantized to cents), "
    "so parallel summation order can't perturb them — the one-pass "
    "co-moment formulas built-in corr()/stddev() use are order-"
    "dependent in the last ulps and hash-unstable across engines. "
    "Decimal(38) sums hold to ~1e25 rows of cent-quantized moments.",
)
def q34_corr_stddev_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    x = F.floor(F.col("value") * _VQ + F.lit(0.5)).cast("long")
    y = F.floor(F.col("user_id").cast("double") * _VQ + F.lit(0.5)).cast("long")
    q = e.select("event_type", x.alias("x"), y.alias("y"))
    dec = "decimal(38,0)"
    s = q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    return s.select(
        "event_type",
        "n",
        fround(F.sqrt((sxx - sx * F.col("sx") / n) / (n - 1)) / _VQ, 4).alias("stddev_value"),
        fround(
            (n * sxy - sx * F.col("sy"))
            / F.sqrt((n * sxx - sx * F.col("sx")) * (n * syy - sy * F.col("sy"))),
            4,
        ).alias("corr_value_user"),
    )


@query(
    "q35_median_mode_window",
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
    ),
    med AS (
        SELECT c_mktsegment, c_acctbal AS median_bal
        FROM ranked WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
    ),
    freq AS (
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
        FROM customer GROUP BY 1, 2
    ),
    mode_ AS (
        SELECT c_mktsegment, c_nationkey AS mode_nation
        FROM (
            SELECT c_mktsegment, c_nationkey,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY cnt DESC, c_nationkey) AS rk
            FROM freq
        ) t WHERE rk = 1
    )
    SELECT med.c_mktsegment, median_bal, CAST(mode_nation AS BIGINT) AS mode_nation
    FROM med JOIN mode_ ON med.c_mktsegment = mode_.c_mktsegment
    """,
    doc="Exact distributed median and mode WITHOUT engine-specific "
    "aggregate functions: engine median() semantics diverge on "
    "even-count groups (interpolation vs element pick), so the lower "
    "median is taken as the rank-ceil(n/2) element via a row_number "
    "window with a deterministic tiebreak, and mode as the "
    "count-desc/key-asc rank-1 row — identical semantics on any "
    "engine by construction. One window shuffle + one groupBy.",
)
def q35_median_mode_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = W.partitionBy("c_mktsegment")
    ranked = c.select(
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint")
    ).select("c_mktsegment", F.col("c_acctbal").alias("median_bal"))
    freq = c.groupBy("c_mktsegment", "c_nationkey").agg(F.count("*").alias("cnt"))
    rk = F.row_number().over(
        W.partitionBy("c_mktsegment").orderBy(F.col("cnt").desc(), "c_nationkey")
    )
    mode_ = (
        freq.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("c_mktsegment", F.col("c_nationkey").cast("bigint").alias("mode_nation"))
    )
    return med.join(mode_, "c_mktsegment")
