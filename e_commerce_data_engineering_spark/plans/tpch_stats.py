"""TPC-H-star statistical shelf, part 2 (q96-q124): seasonal
decomposition/anomaly screens, nonparametric tests (Kendall, Pettitt,
runs, Spearman, Mann-Kendall and its seasonal form, Brown-Forsythe,
Jarque-Bera), drift metrics (Wasserstein, Page-Hinkley), inventory
policy analytics (safety stock, EOQ, newsvendor, ABC-XYZ,
intermittency, fill rate, X-bar/R control charts) and causal readouts
(WoE, DiD, ICC, Theil). Split from plans/tpch_extra.py in round 11
(VERDICT r10 #8 - file-size hygiene); registry names unchanged; the
shared 2x12 centered-MA detrending constant lives here with its two
consumers (q96/q98)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..frames import tier
from ..sources.tables import load_table
from .money import dfrac, dmoney, fround, money_sum, sql_fround, sql_money_sum
from .registry import query

# Shared WITH-prefix for the 2x12 centered-MA detrending: monthly cent
# totals, the 13-term weighted trend sum (x24), and the exact-integer
# detrended series over complete windows. q96 averages det24 per
# month-of-year into seasonal indices; q98 subtracts those indices back
# out per month and MAD-screens the residuals — one constant so the two
# oracles cannot drift.
_SQL_Q96_DET = """
    WITH monthly AS (
        SELECT (EXTRACT(year FROM o_orderdate) * 12
                + EXTRACT(month FROM o_orderdate) - 1) AS midx,
               CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS moy,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    offs AS (SELECT unnest(generate_series(-6, 6)) AS k),
    win AS (
        SELECT m.midx, m.moy, m.cents,
               CAST(SUM(nb.cents * (CASE WHEN ABS(o.k) = 6 THEN 1 ELSE 2 END))
                   AS BIGINT) AS trend24,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM monthly m
        CROSS JOIN offs o
        JOIN monthly nb ON nb.midx = m.midx + o.k
        GROUP BY 1, 2, 3
    ),
    det AS (
        -- only complete 13-term windows: the 2x12 MA needs every term
        SELECT midx, moy, cents,
               CAST(cents * 24 - trend24 AS BIGINT) AS det24
        FROM win WHERE n_terms = 13
    )"""


def _monthly_det24(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Spark twin of ``_SQL_Q96_DET``: returns {'monthly', 'det'} where
    det carries (midx, moy, cents, det24) — the exact-integer 2x12-MA
    detrended monthly revenue over complete 13-term windows."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("midx"),
        F.month("o_orderdate").cast("int").alias("moy"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    offs = spark.range(-6, 7).select(F.col("id").alias("k"))
    nb = monthly.select(F.col("midx").alias("_m2"), F.col("cents").alias("_c2"))
    win = (
        monthly.crossJoin(F.broadcast(offs))
        .join(nb, F.col("_m2") == F.col("midx") + F.col("k"))
        .groupBy("midx", "moy", "cents")
        .agg(
            F.sum(
                F.col("_c2") * F.when(F.abs(F.col("k")) == 6, 1).otherwise(2)
            )
            .cast("bigint")
            .alias("trend24"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
    )
    det = win.filter(F.col("n_terms") == 13).select(
        "midx",
        "moy",
        "cents",
        (F.col("cents") * 24 - F.col("trend24")).cast("bigint").alias("det24"),
    )
    return {"monthly": monthly, "det": det}


@query(
    "q96_seasonal_decompose",
    oracle=f"""{_SQL_Q96_DET},
    seas AS (
        SELECT moy, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(det24) AS BIGINT) AS s24
        FROM det GROUP BY 1
    ),
    base AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS nm
        FROM monthly
    )
    SELECT seas.moy AS month_of_year, seas.n_windows,
           {sql_fround(
               "CAST(seas.s24 AS DOUBLE) / (seas.n_windows * 24 * 100.0)", 2
           )} AS seasonal_component,
           {sql_fround(
               "CAST(seas.s24 AS DOUBLE) * base.nm"
               " / (CAST(seas.n_windows AS DOUBLE) * 24 * base.tot)",
               6,
           )} AS seasonal_share
    FROM seas CROSS JOIN base
    """,
    doc="Classical additive seasonal decomposition of monthly revenue "
    "(Kendall's 2x12 centered moving average — the textbook pre-STL "
    "method): detrend each month with the 13-term MA (end terms "
    "half-weighted so the even period centers), then average the "
    "detrended values per month-of-year into seasonal indices, "
    "reported in currency and as a share of the mean month — the "
    "decomposition behind q95's December-lift headline, giving ALL "
    "twelve months their seasonal component. The MA rides an exact "
    "integer identity: trend*24 is an integer weight-sum of cent "
    "totals, detrended*24 = cents*24 - trend24 stays int64, and the "
    "per-month averages divide exact integers once at display (the "
    "q90 discipline applied to time-series decomposition). Incomplete "
    "windows are excluded exactly, not padded. Scale: one month-grain "
    "rollup (calendar-bounded), a 13-offset self-join on THAT frame, "
    "and a 12-row rollup.",
)
def q96_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = _monthly_det24(spark, sf_dir)
    monthly, det = frames["monthly"], frames["det"]
    seas = det.groupBy("moy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum("det24").cast("bigint").alias("s24"),
    )
    base = monthly.agg(
        F.sum("cents").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("nm"),
    )
    return seas.crossJoin(F.broadcast(base)).select(
        F.col("moy").alias("month_of_year"),
        "n_windows",
        fround(
            F.col("s24").cast("double") / (F.col("n_windows") * 24 * 100.0), 2
        ).alias("seasonal_component"),
        fround(
            F.col("s24").cast("double") * F.col("nm")
            / (F.col("n_windows").cast("double") * 24 * F.col("tot")),
            6,
        ).alias("seasonal_share"),
    )


# ---------------------------------------------------------------------------
# q97 — one-pass bootstrap confidence intervals via exchangeable hash
# weights (the Poisson-bootstrap shape: Chamandy et al. 2012; Praestgaard
# & Wellner 1993) (round 8)
# ---------------------------------------------------------------------------

_BOOT_R = 32  # bootstrap replicates
_BOOT_A = 1103515245  # LCG multiplier (key side) — products stay < 2^62
_BOOT_B = 2654435761  # Knuth multiplicative constant (replicate side)
_BOOT_M = 2147483647  # 2^31 - 1


@query(
    "q97_bootstrap_ci",
    oracle=f"""
    WITH base AS (
        SELECT c.c_mktsegment AS segment, o.o_orderkey AS k,
               CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    reps AS (SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r),
    wtd AS (
        SELECT segment, r,
               (({_BOOT_A} * (k % {_BOOT_M}) + {_BOOT_B} * r) % {_BOOT_M}) % 3 AS w,
               cents
        FROM base CROSS JOIN reps
    ),
    rep_means AS (
        SELECT segment, r,
               CAST(SUM(w * cents) AS BIGINT) AS swc,
               CAST(SUM(w) AS BIGINT) AS sw
        FROM wtd GROUP BY 1, 2
    ),
    mm AS (
        SELECT segment,
               (swc // sw) * 1000000 + ((swc % sw) * 1000000) // sw AS mean_micro
        FROM rep_means WHERE sw > 0
    ),
    grid AS (
        SELECT segment, mean_micro, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM mm GROUP BY 1, 2
    ),
    cum AS (
        SELECT segment, mean_micro,
               SUM(cnt) OVER (PARTITION BY segment ORDER BY mean_micro) AS cum,
               SUM(cnt) OVER (PARTITION BY segment) AS n
        FROM grid
    ),
    ci AS (
        SELECT segment,
               MIN(CASE WHEN cum >= (5 * n + 99) // 100 THEN mean_micro END) AS p05,
               MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN mean_micro END) AS p50,
               MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN mean_micro END) AS p95
        FROM cum GROUP BY segment
    ),
    samp AS (
        SELECT segment, CAST(SUM(cents) AS BIGINT) AS sc,
               CAST(COUNT(*) AS BIGINT) AS no
        FROM base GROUP BY segment
    )
    SELECT ci.segment,
           CAST({_BOOT_R} AS INTEGER) AS n_reps,
           {sql_fround("CAST(sc AS DOUBLE) / no / 100.0", 4)} AS sample_mean,
           {sql_fround("CAST(p05 AS DOUBLE) / 100000000.0", 4)} AS boot_p05,
           {sql_fround("CAST(p50 AS DOUBLE) / 100000000.0", 4)} AS boot_p50,
           {sql_fround("CAST(p95 AS DOUBLE) / 100000000.0", 4)} AS boot_p95
    FROM ci JOIN samp ON samp.segment = ci.segment
    """,
    doc="One-pass bootstrap CI for mean order value per market segment "
    "— the exchangeably-weighted bootstrap (Praestgaard & Wellner "
    "1993) in the streaming/Poisson-bootstrap shape Google described "
    "for massive data (Chamandy et al. 2012): instead of materializing "
    f"{_BOOT_R} resampled copies, every row gets {_BOOT_R} integer "
    "weights w in {0,1,2} (mean 1) from a portable LCG on "
    "(o_orderkey, replicate), so ONE scan computes every replicate's "
    "weighted mean. Replicate means are exact integer micro-cents via "
    "overflow-safe long division ((swc div sw)*1e6 + rem*1e6 div sw); "
    "the p05/p50/p95 percentile CI uses the engine-wide integer "
    "ceil-division fences on the (segment, mean) value grid. Scale: "
    f"the x{_BOOT_R} fan-out is absorbed by map-side combine — shuffle "
    "rows are segments x replicates, never data x replicates; at 100 "
    "TB this is THE way to put error bars on a mean without a second "
    "pass. Hash-checked against DuckDB running the identical LCG.",
)
def q97_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    reps = spark.range(_BOOT_R).select(F.col("id").cast("bigint").alias("r"))
    w = (
        (F.lit(_BOOT_A) * (F.col("k") % _BOOT_M) + F.lit(_BOOT_B) * F.col("r"))
        % _BOOT_M
    ) % 3
    rep_means = (
        base.crossJoin(F.broadcast(reps))
        .select("segment", "r", w.alias("w"), "cents")
        .groupBy("segment", "r")
        .agg(
            F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("swc"),
            F.sum("w").cast("bigint").alias("sw"),
        )
    )
    # a replicate whose weights all hashed to 0 has sw=0: Spark's div
    # would yield NULL where DuckDB's // raises — drop the degenerate
    # replicate identically in both engines (P(all-zero) ~ (1/3)^n, only
    # tiny segments are ever at risk)
    mm = rep_means.filter(F.col("sw") > 0).select(
        "segment",
        F.expr("(swc div sw) * 1000000 + ((swc % sw) * 1000000) div sw").alias(
            "mean_micro"
        ),
    )
    grid = mm.groupBy("segment", "mean_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wc = W.partitionBy("segment").orderBy("mean_micro")
    wn = W.partitionBy("segment")
    cum = grid.select(
        "segment",
        "mean_micro",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )

    def pick(pct: int, name: str):
        thr = F.expr(f"({pct} * n + 99) div 100")
        return F.min(F.when(F.col("cum") >= thr, F.col("mean_micro"))).alias(name)

    ci = cum.groupBy("segment").agg(pick(5, "_p05"), pick(50, "_p50"), pick(95, "_p95"))
    samp = base.groupBy("segment").agg(
        F.sum("cents").cast("bigint").alias("sc"),
        F.count(F.lit(1)).cast("bigint").alias("no"),
    )
    return ci.join(samp, "segment").select(
        "segment",
        F.lit(_BOOT_R).cast("int").alias("n_reps"),
        fround(F.col("sc").cast("double") / F.col("no") / 100.0, 4).alias("sample_mean"),
        fround(F.col("_p05").cast("double") / 1e8, 4).alias("boot_p05"),
        fround(F.col("_p50").cast("double") / 1e8, 4).alias("boot_p50"),
        fround(F.col("_p95").cast("double") / 1e8, 4).alias("boot_p95"),
    )


# ---------------------------------------------------------------------------
# q98 — seasonally-adjusted anomaly months: MAD screen on the q96
# decomposition residuals (round 8; q96's consumer)
# ---------------------------------------------------------------------------


@query(
    "q98_seasonal_anomaly",
    oracle=f"""{_SQL_Q96_DET},
    seas AS (
        SELECT moy, CAST(COUNT(*) AS BIGINT) AS nw,
               CAST(SUM(det24) AS BIGINT) AS s24
        FROM det GROUP BY 1
    ),
    resid AS (
        SELECT d.midx, d.moy, d.cents,
               CAST(FLOOR(CAST(d.det24 * seas.nw - seas.s24 AS DOUBLE)
                   / (24.0 * seas.nw) + 0.5) AS BIGINT) AS rq
        FROM det d JOIN seas USING (moy)
    ),
    grid1 AS (SELECT rq, CAST(COUNT(*) AS BIGINT) AS cnt FROM resid GROUP BY rq),
    cum1 AS (
        SELECT rq, SUM(cnt) OVER (ORDER BY rq) AS cum, SUM(cnt) OVER () AS n
        FROM grid1
    ),
    med AS (SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN rq END) AS med FROM cum1),
    devs AS (
        SELECT midx, moy, cents, rq, ABS(rq - med) AS dev
        FROM resid CROSS JOIN med
    ),
    grid2 AS (SELECT dev, CAST(COUNT(*) AS BIGINT) AS cnt FROM devs GROUP BY dev),
    cum2 AS (
        SELECT dev, SUM(cnt) OVER (ORDER BY dev) AS cum, SUM(cnt) OVER () AS n
        FROM grid2
    ),
    mad AS (SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad FROM cum2)
    SELECT CAST(midx // 12 AS INTEGER) AS yr, CAST(moy AS INTEGER) AS mon,
           {sql_fround("CAST(cents AS DOUBLE) / 100.0", 2)} AS revenue,
           {sql_fround("CAST(rq AS DOUBLE) / 100.0", 2)} AS residual,
           CASE WHEN mad > 0
                THEN {sql_fround("CAST(dev AS DOUBLE) / mad", 4)} END AS mad_score,
           (dev > 3 * mad) AS is_anomaly
    FROM devs CROSS JOIN mad
    """,
    doc="Seasonally-adjusted anomaly screen — q96's consumer: subtract "
    "the 2x12-MA trend AND the month-of-year seasonal index from each "
    "month's revenue, then flag months whose residual sits more than "
    "3 robust-MADs from the median residual (the STL-residual outlier "
    "rule, done with the classical decomposition). The residual is an "
    "exact integer identity until one double division: det24*nw - s24 "
    "is pure int64 (detrended x24 x n_windows minus the seasonal "
    "sum), then a single quantize-to-cents; median and MAD ride the "
    "engine-wide ceil-division fences on VALUE grids, so the screen "
    "is bit-deterministic across engines. A December spike q95 calls "
    "lift does NOT fire here — it is absorbed by the seasonal index; "
    "only months breaking their OWN seasonal pattern flag. Scale: "
    "everything after the month-grain rollup is calendar-bounded "
    "(dozens of rows); int64 headroom holds to ~1e15 monthly cents — "
    "switch det24*nw to DECIMAL(38,0) beyond that.",
)
def q98_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    det = _monthly_det24(spark, sf_dir)["det"]
    seas = det.groupBy("moy").agg(
        F.count(F.lit(1)).cast("bigint").alias("nw"),
        F.sum("det24").cast("bigint").alias("s24"),
    )
    resid = det.join(F.broadcast(seas), "moy").select(
        "midx",
        "moy",
        "cents",
        F.floor(
            (F.col("det24") * F.col("nw") - F.col("s24")).cast("double")
            / (24.0 * F.col("nw"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rq"),
    )

    def _grid_median(df: DataFrame, col: str, out: str) -> DataFrame:
        from pyspark.sql import Window as W

        grid = df.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        nrow = grid.agg(F.sum("cnt").cast("bigint").alias("n"))
        # value grid is calendar-bounded (distinct monthly residuals)
        cum = grid.select(
            col, F.sum("cnt").over(W.orderBy(col)).alias("cum")
        ).crossJoin(F.broadcast(nrow))
        return cum.agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col(col))
            ).alias(out)
        )

    med = _grid_median(resid, "rq", "med")
    devs = resid.crossJoin(F.broadcast(med)).withColumn(
        "dev", F.abs(F.col("rq") - F.col("med"))
    )
    mad = _grid_median(devs, "dev", "mad")
    return devs.crossJoin(F.broadcast(mad)).select(
        F.expr("midx div 12").cast("int").alias("yr"),
        F.col("moy").cast("int").alias("mon"),
        fround(F.col("cents").cast("double") / 100.0, 2).alias("revenue"),
        fround(F.col("rq").cast("double") / 100.0, 2).alias("residual"),
        F.when(
            F.col("mad") > 0, fround(F.col("dev").cast("double") / F.col("mad"), 4)
        ).alias("mad_score"),
        (F.col("dev") > 3 * F.col("mad")).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# q99 — customer concentration ratios (CR-k): the industrial-economics
# companion to q90's Herfindahl index (round 8)
# ---------------------------------------------------------------------------


@query(
    "q99_concentration_ratios",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey AS cust,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT segment, cents,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY cents DESC, cust) AS rn
        FROM per_cust
    ),
    agg AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS tot,
               CAST(SUM(CASE WHEN rn <= 4 THEN cents ELSE 0 END) AS BIGINT) AS top4,
               CAST(SUM(CASE WHEN rn <= 8 THEN cents ELSE 0 END) AS BIGINT) AS top8,
               CAST(SUM(CASE WHEN rn <= 20 THEN cents ELSE 0 END) AS BIGINT) AS top20
        FROM ranked GROUP BY segment
    )
    SELECT segment, n_customers,
           (FLOOR(CAST(top4 AS DOUBLE) / tot * 1000000.0 + 0.5) / 1000000.0) AS cr4,
           (FLOOR(CAST(top8 AS DOUBLE) / tot * 1000000.0 + 0.5) / 1000000.0) AS cr8,
           (FLOOR(CAST(top20 AS DOUBLE) / tot * 1000000.0 + 0.5) / 1000000.0) AS cr20
    FROM agg
    """,
    doc="Customer concentration ratios per market segment: CR-k = the "
    "revenue share of the top k customers (CR4/CR8/CR20) — the "
    "industrial-organization concentration measure regulators quote "
    "next to the Herfindahl index (q90 computes HHI for suppliers; "
    "CR-k answers 'how exposed is this segment to its whale "
    "accounts'). Revenue is exact integer cents; the rank window runs "
    "on the CUSTOMER-GRAIN rollup (one row per customer, partitioned "
    "by segment — never the order population), rn ties broken by "
    "custkey; shares quantize to 1e-6 before display so the hash "
    "cannot flip. Scale: one fact rollup with map-side combine, one "
    "bounded window per segment, 5 output rows.",
)
def q99_concentration_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("o_custkey").alias("cust")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = per_cust.select(
        "segment",
        "cents",
        F.row_number()
        .over(W.partitionBy("segment").orderBy(F.col("cents").desc(), "cust"))
        .alias("rn"),
    )
    agg = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("tot"),
        F.sum(F.when(F.col("rn") <= 4, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("top4"),
        F.sum(F.when(F.col("rn") <= 8, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("top8"),
        F.sum(F.when(F.col("rn") <= 20, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("top20"),
    )

    def share(col: str, name: str):
        return (
            F.floor(F.col(col).cast("double") / F.col("tot") * 1_000_000.0 + F.lit(0.5))
            / 1_000_000.0
        ).alias(name)

    return agg.select(
        "segment", "n_customers", share("top4", "cr4"), share("top8", "cr8"),
        share("top20", "cr20"),
    )


# ---------------------------------------------------------------------------
# q100 — Kendall's tau-b between discount and quantity, computed on the
# VALUE GRID (round 9)
# ---------------------------------------------------------------------------


@query(
    "q100_kendall_tau",
    oracle="""
    WITH cells AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS d,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2, 3
    ),
    pairs AS (
        SELECT a.flag,
               CAST(SUM(CASE WHEN (a.d < b.d AND a.q < b.q)
                               OR (a.d > b.d AND a.q > b.q)
                        THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS HUGEINT)
                   AS conc,
               CAST(SUM(CASE WHEN (a.d < b.d AND a.q > b.q)
                               OR (a.d > b.d AND a.q < b.q)
                        THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS HUGEINT)
                   AS disc
        FROM cells a JOIN cells b
          ON a.flag = b.flag AND (a.d < b.d OR (a.d = b.d AND a.q < b.q))
        GROUP BY 1
    ),
    dm AS (SELECT flag, d, CAST(SUM(c) AS BIGINT) AS td FROM cells GROUP BY 1, 2),
    qm AS (SELECT flag, q, CAST(SUM(c) AS BIGINT) AS tq FROM cells GROUP BY 1, 2),
    margins AS (
        SELECT n.flag, n.n, t1.t1x2, t2.t2x2
        FROM (SELECT flag, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1) n
        JOIN (SELECT flag, CAST(SUM(CAST(td AS HUGEINT) * (td - 1)) AS HUGEINT)
                  AS t1x2 FROM dm GROUP BY 1) t1 ON t1.flag = n.flag
        JOIN (SELECT flag, CAST(SUM(CAST(tq AS HUGEINT) * (tq - 1)) AS HUGEINT)
                  AS t2x2 FROM qm GROUP BY 1) t2 ON t2.flag = n.flag
    ),
    stats AS (
        SELECT m.flag, m.n, p.conc, p.disc,
               CAST(m.n AS HUGEINT) * (m.n - 1) AS n0x2,
               m.t1x2, m.t2x2
        FROM margins m JOIN pairs p ON p.flag = m.flag
    )
    SELECT flag, n,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           (FLOOR((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
               / SQRT((CAST(n0x2 AS DOUBLE) - CAST(t1x2 AS DOUBLE))
                    * (CAST(n0x2 AS DOUBLE) - CAST(t2x2 AS DOUBLE)) / 4.0)
               * 1000000.0 + 0.5) / 1000000.0) AS tau_b
    FROM stats
    """,
    doc="Kendall's tau-b rank correlation (Kendall 1938) between "
    "discount and quantity per return flag — the tie-corrected rank "
    "correlation analysts reach for when Pearson's linearity "
    "assumption (q34) is suspect. The naive statistic is O(rows^2) "
    "sign comparisons; here concordant/discordant pair MASSES come "
    "from the 11x50 (discount, quantity) VALUE GRID: one map-side-"
    "combinable groupBy collapses the fact table to <=550 cells per "
    "flag, the grid self-joins (bounded 550^2 cell pairs however many "
    "rows the table has), and tie corrections n1, n2 fall out of the "
    "grid margins. Pair masses are data^2-sized integers, so they "
    "accumulate in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — both "
    "cast the same exact integer to the same double before the final "
    "tau, which quantizes to 1e-6. Doubled counts (n0x2 = 2*n0, "
    "t1x2 = 2*n1) keep every intermediate an exact integer; the /4 "
    "under the sqrt fully undoes the doubling — "
    "(2n0-2n1)(2n0-2n2)/4 = (n0-n1)(n0-n2) exactly (a spurious "
    "trailing /2 halved tau through round 9; fixed round 10, pinned "
    "by test_q100_tau_perfect_concordance). Scale: the "
    "only data-sized stage is the grid rollup; everything after is "
    "O(grid^2) = constant.",
)
def q100_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    cells = (
        l.select(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint").alias("d"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("flag", "d", "q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = cells.alias("a")
    b = cells.alias("b")
    big = "CAST(a.c AS DECIMAL(19,0)) * CAST(b.c AS DECIMAL(19,0))"
    pairs = (
        a.join(
            b,
            (F.col("a.flag") == F.col("b.flag"))
            & (
                (F.col("a.d") < F.col("b.d"))
                | ((F.col("a.d") == F.col("b.d")) & (F.col("a.q") < F.col("b.q")))
            ),
        )
        .groupBy(F.col("a.flag").alias("flag"))
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN (a.d < b.d AND a.q < b.q) "
                    f"OR (a.d > b.d AND a.q > b.q) THEN {big} "
                    "ELSE CAST(0 AS DECIMAL(19,0)) END"
                )
            )
            .cast("decimal(38,0)")
            .alias("conc"),
            F.sum(
                F.expr(
                    "CASE WHEN (a.d < b.d AND a.q > b.q) "
                    f"OR (a.d > b.d AND a.q < b.q) THEN {big} "
                    "ELSE CAST(0 AS DECIMAL(19,0)) END"
                )
            )
            .cast("decimal(38,0)")
            .alias("disc"),
        )
    )
    dm = cells.groupBy("flag", "d").agg(F.sum("c").cast("bigint").alias("td"))
    qm = cells.groupBy("flag", "q").agg(F.sum("c").cast("bigint").alias("tq"))
    nn = cells.groupBy("flag").agg(F.sum("c").cast("bigint").alias("n"))
    t1 = dm.groupBy("flag").agg(
        F.sum(F.expr("CAST(td AS DECIMAL(19,0)) * (td - 1)"))
        .cast("decimal(38,0)")
        .alias("t1x2")
    )
    t2 = qm.groupBy("flag").agg(
        F.sum(F.expr("CAST(tq AS DECIMAL(19,0)) * (tq - 1)"))
        .cast("decimal(38,0)")
        .alias("t2x2")
    )
    margins = nn.join(F.broadcast(t1), "flag").join(F.broadcast(t2), "flag")
    stats = margins.join(F.broadcast(pairs), "flag").withColumn(
        "n0x2", F.expr("CAST(n AS DECIMAL(19,0)) * (n - 1)").cast("decimal(38,0)")
    )
    tau = (
        (F.col("conc").cast("double") - F.col("disc").cast("double"))
        / F.sqrt(
            (F.col("n0x2").cast("double") - F.col("t1x2").cast("double"))
            * (F.col("n0x2").cast("double") - F.col("t2x2").cast("double"))
            / 4.0
        )
    )
    return stats.select(
        "flag",
        "n",
        F.col("conc").cast("bigint").alias("concordant"),
        F.col("disc").cast("bigint").alias("discordant"),
        fround(tau, 6).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# q101 — Pettitt change-point test on the daily revenue series (round 9)
# ---------------------------------------------------------------------------


@query(
    "q101_pettitt_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    grid AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt FROM daily GROUP BY 1),
    r2 AS (
        SELECT cents,
               2 * SUM(cnt) OVER (ORDER BY cents) - cnt + 1 AS rank2
        FROM grid
    ),
    seq AS (
        SELECT d.day,
               d.cents,
               ROW_NUMBER() OVER (ORDER BY d.day) AS t,
               SUM(r2.rank2) OVER (ORDER BY d.day) AS s2
        FROM daily d JOIN r2 ON r2.cents = d.cents
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    u AS (
        SELECT day, t, s2 - t * (n + 1) AS u2, n
        FROM seq CROSS JOIN nn WHERE t < n
    ),
    k AS (SELECT MAX(ABS(u2)) AS k2, MAX(n) AS n FROM u),
    cp AS (
        SELECT MIN(u.day) AS change_day, MAX(k.k2) AS k2, MAX(k.n) AS n
        FROM u JOIN k ON ABS(u.u2) = k.k2
    ),
    halves AS (
        SELECT cp.change_day, cp.k2, cp.n,
               CAST(SUM(CASE WHEN d.day <= cp.change_day THEN d.cents END)
                   AS BIGINT) AS sb,
               CAST(SUM(CASE WHEN d.day <= cp.change_day THEN 1 END)
                   AS BIGINT) AS nb,
               CAST(SUM(CASE WHEN d.day > cp.change_day THEN d.cents END)
                   AS BIGINT) AS sa,
               CAST(SUM(CASE WHEN d.day > cp.change_day THEN 1 END)
                   AS BIGINT) AS na
        FROM daily d CROSS JOIN cp
        GROUP BY 1, 2, 3
    )
    SELECT n AS n_days, strftime(change_day, '%Y-%m-%d') AS change_day,
           CAST(k2 AS DOUBLE) AS k_stat,
           (FLOOR(2.0 * EXP(-6.0 * CAST(k2 AS DOUBLE) * k2
                / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n))
               * 1000000.0 + 0.5) / 1000000.0) AS p_value,
           (FLOOR(CAST(sb AS DOUBLE) / nb + 0.5) / 100.0) AS mean_before,
           (FLOOR(CAST(sa AS DOUBLE) / na + 0.5) / 100.0) AS mean_after
    FROM halves
    """,
    doc="Pettitt's nonparametric change-point test (Pettitt 1979) on "
    "the daily revenue series: U_t = sum of sign(x_i - x_j) over "
    "(i <= t < j) peaks where the distribution shifts; K = max|U_t| "
    "locates the most likely break and p ~ 2 exp(-6K^2/(n^3+n^2)) "
    "screens it. The O(n^2) sign double-sum collapses through the "
    "rank identity U_t = 2 S_t - t(n+1) with MIDRANKS for ties, and "
    "midranks come off the revenue VALUE grid (rank2 = 2*cum - cnt + 1 "
    "= 2*midrank keeps everything integer; since s2 = 2*S_t, "
    "u2 = s2 - t(n+1) IS U_t exactly — no halving at display; a "
    "spurious /2 understated K and quartered the exponent through "
    "round 9, fixed round 10 and pinned by "
    "test_q101_pettitt_step_series). Both global windows walk the DAY "
    "grid, bounded by the "
    "calendar (~2.4k rows) however many orders exist — the only "
    "data-sized stage is the per-day rollup with map-side combine. "
    "Earliest day wins argmax ties; before/after means are exact "
    "integer cents. The verdict on this synthetic series: uniform "
    "generator, no break — p ~ 1, a calibrated null readout.",
)
def q101_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    grid = daily.groupBy("cents").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # global windows below run on the bounded day/value grids, never rows
    r2 = grid.select(
        "cents",
        (2 * F.sum("cnt").over(W.orderBy("cents")) - F.col("cnt") + 1).alias("rank2"),
    )
    seq = daily.join(r2, "cents").select(
        "day",
        "cents",
        F.row_number().over(W.orderBy("day")).alias("t"),
        F.sum("rank2").over(W.orderBy("day")).alias("s2"),
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    u = (
        seq.crossJoin(F.broadcast(nn))
        .withColumn("u2", F.col("s2") - F.col("t") * (F.col("n") + 1))
        .filter(F.col("t") < F.col("n"))
    )
    k = u.agg(F.max(F.abs(F.col("u2"))).alias("k2"), F.max("n").alias("n"))
    cp = (
        u.join(F.broadcast(k.select("k2")), F.abs(F.col("u2")) == F.col("k2"))
        .agg(F.min("day").alias("change_day"))
        .crossJoin(F.broadcast(k))
    )
    halves = (
        daily.crossJoin(F.broadcast(cp))
        .groupBy("change_day", "k2", "n")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("change_day"), F.col("cents")))
            .cast("bigint")
            .alias("sb"),
            F.sum(F.when(F.col("day") <= F.col("change_day"), F.lit(1)))
            .cast("bigint")
            .alias("nb"),
            F.sum(F.when(F.col("day") > F.col("change_day"), F.col("cents")))
            .cast("bigint")
            .alias("sa"),
            F.sum(F.when(F.col("day") > F.col("change_day"), F.lit(1)))
            .cast("bigint")
            .alias("na"),
        )
    )
    nd = F.col("n").cast("double")
    return halves.select(
        F.col("n").alias("n_days"),
        F.date_format("change_day", "yyyy-MM-dd").alias("change_day"),
        F.col("k2").cast("double").alias("k_stat"),
        fround(
            2.0
            * F.exp(
                -6.0 * F.col("k2").cast("double") * F.col("k2")
                / (nd * nd * nd + nd * nd)
            ),
            6,
        ).alias("p_value"),
        (F.floor(F.col("sb").cast("double") / F.col("nb") + F.lit(0.5)) / 100.0).alias(
            "mean_before"
        ),
        (F.floor(F.col("sa").cast("double") / F.col("na") + F.lit(0.5)) / 100.0).alias(
            "mean_after"
        ),
    )


# ---------------------------------------------------------------------------
# q102 — Wald–Wolfowitz runs test for randomness of daily revenue (round 9)
# ---------------------------------------------------------------------------


@query(
    "q102_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    grid AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt FROM daily GROUP BY 1),
    med AS (
        SELECT MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN cents END) AS med
        FROM (
            SELECT cents, SUM(cnt) OVER (ORDER BY cents) AS cum,
                   SUM(cnt) OVER () AS n
            FROM grid
        )
    ),
    signs AS (
        SELECT day, CASE WHEN cents > med THEN 1 ELSE 0 END AS s
        FROM daily CROSS JOIN med
    ),
    flips AS (
        SELECT s,
               CASE WHEN LAG(s) OVER (ORDER BY day) IS NOT NULL
                     AND LAG(s) OVER (ORDER BY day) <> s
                    THEN 1 ELSE 0 END AS flip
        FROM signs
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2,
               CAST(1 + SUM(flip) AS BIGINT) AS runs
        FROM flips
    )
    SELECT n AS n_days, n1 AS n_above, n2 AS n_below, runs,
           (FLOOR((1.0 + 2.0 * n1 * n2 / n) * 1000000.0 + 0.5) / 1000000.0)
               AS expected_runs,
           (FLOOR((CAST(runs AS DOUBLE) - (1.0 + 2.0 * n1 * n2 / n))
               / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                    / (CAST(n AS DOUBLE) * n * (n - 1)))
               * 1000000.0 + 0.5) / 1000000.0) AS z_stat
    FROM agg
    """,
    doc="Wald–Wolfowitz runs test (Wald & Wolfowitz 1940) for "
    "randomness of the daily revenue series: dichotomize each day "
    "above/below the series median, count RUNS of consecutive same "
    "signs, and compare to the exact null moments E[R] = 1 + 2 n1 n2 "
    "/ n, Var[R] = 2 n1 n2 (2 n1 n2 - n) / (n^2 (n - 1)) — too few "
    "runs means trend/autocorrelation, too many means oscillation; "
    "the canonical pre-model sanity check on a KPI series (q77's "
    "Theil–Sen measures the trend this test detects). The median is "
    "the engine-wide exact integer ceil-division fence on the revenue "
    "VALUE grid (ties land 'below' on both engines, deterministically); "
    "runs come from one lag over the DAY grid. Both global windows "
    "walk calendar-bounded grids (~2.4k rows); the only data-sized "
    "stage is the per-day rollup with map-side combine. All moment "
    "inputs are exact integers; z quantizes to 1e-6.",
)
def q102_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    grid = daily.groupBy("cents").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # global windows run on the bounded value/day grids, never rows
    cum = grid.select(
        "cents",
        F.sum("cnt").over(W.orderBy("cents")).alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("n"),
    )
    med = cum.agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(50 * n + 99) div 100"), F.col("cents"))
        ).alias("med")
    )
    signs = daily.crossJoin(F.broadcast(med)).select(
        "day", F.when(F.col("cents") > F.col("med"), 1).otherwise(0).alias("s")
    )
    lag = F.lag("s").over(W.orderBy("day"))
    flips = signs.select(
        "s",
        F.when(lag.isNotNull() & (lag != F.col("s")), 1).otherwise(0).alias("flip"),
    )
    agg = flips.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("bigint").alias("n2"),
        (1 + F.sum("flip")).cast("bigint").alias("runs"),
    )
    e_runs = 1.0 + 2.0 * F.col("n1") * F.col("n2") / F.col("n")
    var = (
        2.0 * F.col("n1") * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n"))
        / (F.col("n").cast("double") * F.col("n") * (F.col("n") - 1))
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "runs",
        fround(e_runs, 6).alias("expected_runs"),
        fround((F.col("runs").cast("double") - e_runs) / F.sqrt(var), 6).alias(
            "z_stat"
        ),
    )


# ---------------------------------------------------------------------------
# q103 — safety stock: P95 weekly demand fence per brand (round 9)
# ---------------------------------------------------------------------------


@query(
    "q103_safety_stock",
    oracle="""
    WITH weekly AS (
        SELECT p.p_brand AS brand,
               CAST(DATE_TRUNC('week', l.l_shipdate) AS DATE) AS week,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS demand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT brand, demand, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM weekly GROUP BY 1, 2
    ),
    cum AS (
        SELECT brand, demand,
               SUM(cnt) OVER (PARTITION BY brand ORDER BY demand) AS cum,
               SUM(cnt) OVER (PARTITION BY brand) AS n
        FROM grid
    ),
    fence AS (
        SELECT brand, CAST(MAX(n) AS BIGINT) AS n_weeks,
               MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN demand END) AS p95
        FROM cum GROUP BY brand
    ),
    mean AS (
        SELECT brand, CAST(SUM(demand) AS BIGINT) AS sd,
               CAST(COUNT(*) AS BIGINT) AS nw
        FROM weekly GROUP BY brand
    )
    SELECT f.brand, f.n_weeks, f.p95 AS p95_weekly,
           (FLOOR(CAST(m.sd AS DOUBLE) / m.nw * 10000.0 + 0.5) / 10000.0)
               AS mean_weekly,
           (FLOOR((CAST(f.p95 AS DOUBLE) - CAST(m.sd AS DOUBLE) / m.nw)
               * 10000.0 + 0.5) / 10000.0) AS safety_stock
    FROM fence f JOIN mean m ON m.brand = f.brand
    """,
    doc="Safety-stock sizing per brand — the inventory-planning "
    "critical-fractile readout (the newsvendor logic at a 95% cycle "
    "service level): reorder to the P95 of WEEKLY demand, and hold "
    "P95 - mean as safety stock. Demand folds to the (brand, week) "
    "grain first (map-side combine on the fact scan), the P95 is the "
    "engine-wide exact integer ceil-division fence on each brand's "
    "demand VALUE grid — an empirical quantile, not a normal-z "
    "approximation, so no distributional assumption and no float "
    "percentile divergence — and the per-brand window walks distinct "
    "demand values only. part rides in as a broadcast dim. Scale: "
    "25 brands x calendar weeks bound every post-rollup stage; the "
    "mean is exact integer units. Complements q93 (demand timing "
    "percentiles) and q87 (ABC classes) on the inventory shelf.",
)
def q103_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    weekly = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("demand"))
    )
    grid = weekly.groupBy("brand", "demand").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wb = W.partitionBy("brand").orderBy("demand")
    wn = W.partitionBy("brand")
    cum = grid.select(
        "brand",
        "demand",
        F.sum("cnt").over(wb).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    fence = cum.groupBy("brand").agg(
        F.max("n").alias("n_weeks"),
        F.min(
            F.when(F.col("cum") >= F.expr("(95 * n + 99) div 100"), F.col("demand"))
        ).alias("p95"),
    )
    mean = weekly.groupBy("brand").agg(
        F.sum("demand").cast("bigint").alias("sd"),
        F.count(F.lit(1)).cast("bigint").alias("nw"),
    )
    mean_d = F.col("sd").cast("double") / F.col("nw")
    return fence.join(mean, "brand").select(
        "brand",
        "n_weeks",
        F.col("p95").alias("p95_weekly"),
        fround(mean_d, 4).alias("mean_weekly"),
        fround(F.col("p95").cast("double") - mean_d, 4).alias("safety_stock"),
    )


# ---------------------------------------------------------------------------
# q105 — Wasserstein-1 drift between consecutive years' order-value
# distributions (round 9): exact integer CDF-gap sums on the dollar
# value grid
# ---------------------------------------------------------------------------


@query(
    "q105_wasserstein_drift",
    oracle="""
    WITH base AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    pairs AS (
        SELECT yr AS year_a, yr + 1 AS year_b FROM (SELECT DISTINCT yr FROM base)
        WHERE yr + 1 IN (SELECT DISTINCT yr FROM base)
    ),
    grid AS (
        SELECT p.year_a, p.year_b, b.v,
               CAST(SUM(CASE WHEN b.yr = p.year_a THEN b.cnt ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN b.yr = p.year_b THEN b.cnt ELSE 0 END)
                    AS BIGINT) AS cb
        FROM base b JOIN pairs p ON b.yr IN (p.year_a, p.year_b)
        GROUP BY 1, 2, 3
    ),
    cum AS (
        SELECT year_a, year_b, v,
               SUM(ca) OVER (PARTITION BY year_a ORDER BY v) AS cum_a,
               SUM(cb) OVER (PARTITION BY year_a ORDER BY v) AS cum_b,
               SUM(ca) OVER (PARTITION BY year_a) AS n_a,
               SUM(cb) OVER (PARTITION BY year_a) AS n_b,
               COALESCE(LEAD(v) OVER (PARTITION BY year_a ORDER BY v) - v, 0)
                   AS dv
        FROM grid
    )
    SELECT year_a, year_b,
           CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           ROUND(CAST(SUM(CAST(ABS(cum_a * n_b - cum_b * n_a) AS HUGEINT)
                          * CAST(dv AS HUGEINT)) AS DOUBLE)
                 / (CAST(MAX(n_a) AS DOUBLE) * CAST(MAX(n_b) AS DOUBLE)), 4)
               AS w1_dollars
    FROM cum
    GROUP BY year_a, year_b
    """,
    doc="Wasserstein-1 (earth-mover) distance between consecutive "
    "years' order-value distributions — the drift metric with units "
    "(dollars of probability mass moved) that KL/JS divergences "
    "(t47) cannot provide, and the standard train/serve skew monitor "
    "for a data pipeline's numeric features: on a 1-D grid W1 = "
    "integral |F_a - F_b| dv, computed EXACTLY as sum over dollar-"
    "grid steps of |cum_a*n_b - cum_b*n_a| * dv with the cross-"
    "multiplied CDF gap kept in DECIMAL(38,0)/HUGEINT (the q100 "
    "wide-integer discipline — cum*n reaches rows^2 and the dv "
    "factor adds the price range on top), divided back by n_a*n_b "
    "once at display. Every input to the big sum is an exact "
    "integer in both engines, so the hash gate covers the whole "
    "metric, not a float approximation of it. Scale: one map-side-"
    "combinable (year, dollar) rollup is the only data-sized stage; "
    "the x2 pair fan-out rides a 6-row broadcast; cumulative windows "
    "walk the PRICE-RANGE-bounded dollar grid (never the order "
    "population); 6 output rows.",
)
def q105_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.floor(F.col("o_totalprice")).cast("bigint").alias("v"),
    )
    base = o.groupBy("yr", "v").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    yrs = base.select("yr").distinct()
    pairs = (
        yrs.alias("a")
        .join(yrs.alias("b"), F.expr("a.yr + 1 = b.yr"))
        .select(F.col("a.yr").alias("year_a"), F.col("b.yr").alias("year_b"))
    )
    grid = (
        base.join(
            F.broadcast(pairs),
            (F.col("yr") == F.col("year_a")) | (F.col("yr") == F.col("year_b")),
        )
        .groupBy("year_a", "year_b", "v")
        .agg(
            F.sum(F.when(F.col("yr") == F.col("year_a"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("yr") == F.col("year_b"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    wc = W.partitionBy("year_a").orderBy("v")
    wn = W.partitionBy("year_a")
    cum = grid.select(
        "year_a",
        "year_b",
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
    return cum.groupBy("year_a", "year_b").agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        fround(
            F.sum(term).cast("double")
            / (F.max("n_a").cast("double") * F.max("n_b").cast("double")),
            4,
        ).alias("w1_dollars"),
    )


# ---------------------------------------------------------------------------
# q106 — weight-of-evidence target encoding per brand (round 9): the
# credit-scoring / feature-engineering readout on exact integer counts
# ---------------------------------------------------------------------------


@query(
    "q106_woe_return_risk",
    oracle="""
    WITH c AS (
        SELECT p.p_brand AS brand,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS bad,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END)
                    AS BIGINT) AS good
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(bad) AS BIGINT) AS tb, CAST(SUM(good) AS BIGINT) AS tg
        FROM c
    )
    SELECT brand,
           CAST(bad + good AS BIGINT) AS n_lines,
           CAST(bad AS BIGINT) AS n_returned,
           ROUND(LN((CAST(2 * bad + 1 AS DOUBLE) * tg)
                    / (CAST(2 * good + 1 AS DOUBLE) * tb)), 6) AS woe,
           ROUND((CAST(2 * bad + 1 AS DOUBLE) / (2 * tb)
                  - CAST(2 * good + 1 AS DOUBLE) / (2 * tg))
                 * LN((CAST(2 * bad + 1 AS DOUBLE) * tg)
                      / (CAST(2 * good + 1 AS DOUBLE) * tb)), 6) AS iv_term
    FROM c CROSS JOIN tot
    """,
    doc="Weight-of-evidence target encoding of part brand against the "
    "return flag, with the information-value decomposition — the "
    "credit-scoring-born (Siddiqi 2006) categorical encoder ML "
    "feature pipelines use when one-hot explodes and mean-encoding "
    "leaks: WOE_i = ln(P(brand|returned)/P(brand|kept)) with "
    "half-count (Laplace) smoothing, IV_i = (bad_share_i - "
    "good_share_i) * WOE_i, sum(IV) grading the feature. The "
    "smoothed odds collapse to ONE exact-integer ratio ((2b+1)*G / "
    "((2g+1)*B)) so both engines feed ln the identical IEEE double "
    "and the 6dp round absorbs any last-ulp libm drift (the t68 "
    "Herdan-C precedent). Scale: one fact-dim broadcast join into a "
    "25-key rollup; totals ride back on a broadcast 1-row frame; 25 "
    "output rows.",
)
def q106_woe_return_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    c = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("bad"),
            F.sum(F.when(F.col("l_returnflag") == "R", 0).otherwise(1))
            .cast("bigint")
            .alias("good"),
        )
    )
    tot = c.agg(
        F.sum("bad").cast("bigint").alias("tb"),
        F.sum("good").cast("bigint").alias("tg"),
    )
    j = c.crossJoin(F.broadcast(tot))
    odds = (
        (2 * F.col("bad") + 1).cast("double") * F.col("tg")
    ) / ((2 * F.col("good") + 1).cast("double") * F.col("tb"))
    woe = F.log(odds)
    iv = (
        (2 * F.col("bad") + 1).cast("double") / (2 * F.col("tb"))
        - (2 * F.col("good") + 1).cast("double") / (2 * F.col("tg"))
    ) * woe
    return j.select(
        "brand",
        (F.col("bad") + F.col("good")).cast("bigint").alias("n_lines"),
        F.col("bad").cast("bigint").alias("n_returned"),
        fround(woe, 6).alias("woe"),
        fround(iv, 6).alias("iv_term"),
    )


# ---------------------------------------------------------------------------
# q107 — difference-in-differences: did deep discounts change return
# behavior across the 1995 regime break? (round 9; the causal-inference
# readout family)
# ---------------------------------------------------------------------------

_Q107_DISC = 0.05  # treatment: discount strictly above 5%
_Q107_YEAR = 1995  # period break: ship year < 1995 = pre


@query(
    "q107_did_return_rate",
    oracle=f"""
    WITH cells AS (
        SELECT CASE WHEN l_discount > {_Q107_DISC} THEN 1 ELSE 0 END AS treated,
               CASE WHEN EXTRACT(year FROM l_shipdate) >= {_Q107_YEAR}
                    THEN 1 ELSE 0 END AS post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS r
        FROM lineitem GROUP BY 1, 2
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_t0,
            MAX(CASE WHEN treated = 1 AND post = 0 THEN r END) AS r_t0,
            MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_t1,
            MAX(CASE WHEN treated = 1 AND post = 1 THEN r END) AS r_t1,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_c0,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN r END) AS r_c0,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_c1,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN r END) AS r_c1
        FROM cells
    )
    SELECT n_t0, n_t1, n_c0, n_c1,
           ROUND(CAST(r_t0 AS DOUBLE) / n_t0, 6) AS rate_treat_pre,
           ROUND(CAST(r_t1 AS DOUBLE) / n_t1, 6) AS rate_treat_post,
           ROUND(CAST(r_c0 AS DOUBLE) / n_c0, 6) AS rate_ctrl_pre,
           ROUND(CAST(r_c1 AS DOUBLE) / n_c1, 6) AS rate_ctrl_post,
           ROUND((CAST(r_t1 AS DOUBLE) / n_t1 - CAST(r_t0 AS DOUBLE) / n_t0)
                 - (CAST(r_c1 AS DOUBLE) / n_c1 - CAST(r_c0 AS DOUBLE) / n_c0),
                 6) AS did_estimate
    FROM wide
    """,
    doc="Difference-in-differences (Card & Krueger 1994's workhorse "
    "design) on the fact table: treatment = line items discounted "
    f"above {_Q107_DISC:.0%}, outcome = return rate, periods split at "
    f"ship year {_Q107_YEAR}. DiD = (treat_post - treat_pre) - "
    "(ctrl_post - ctrl_pre) nets out both the time trend common to "
    "all lines and the level difference between discounted and "
    "full-price lines — the first causal-inference readout in the "
    "query library (the A/B family e24/e43 randomizes; DiD is what "
    "you run when the 'assignment' was a business decision, under "
    "the parallel-trends caveat the doc carries). All four cells are "
    "exact integer (n, returns) pairs off ONE fact scan with map-"
    "side combine; the four rates and their double-difference are "
    "identical IEEE division/subtraction sequences in both engines, "
    "rounded 6dp. Scale: a 4-cell rollup and a 1-row pivot — nothing "
    "after the scan depends on data size.",
)
def q107_did_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_discount") > _Q107_DISC, 1).otherwise(0).alias("treated"),
        F.when(F.year("l_shipdate") >= _Q107_YEAR, 1).otherwise(0).alias("post"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    cells = li.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ret").cast("bigint").alias("r"),
    )

    def cell(t: int, p: int, col: str, name: str):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        ).alias(name)

    wide = cells.agg(
        cell(1, 0, "n", "n_t0"),
        cell(1, 0, "r", "r_t0"),
        cell(1, 1, "n", "n_t1"),
        cell(1, 1, "r", "r_t1"),
        cell(0, 0, "n", "n_c0"),
        cell(0, 0, "r", "r_c0"),
        cell(0, 1, "n", "n_c1"),
        cell(0, 1, "r", "r_c1"),
    )
    rt0 = F.col("r_t0").cast("double") / F.col("n_t0")
    rt1 = F.col("r_t1").cast("double") / F.col("n_t1")
    rc0 = F.col("r_c0").cast("double") / F.col("n_c0")
    rc1 = F.col("r_c1").cast("double") / F.col("n_c1")
    return wide.select(
        "n_t0",
        "n_t1",
        "n_c0",
        "n_c1",
        fround(rt0, 6).alias("rate_treat_pre"),
        fround(rt1, 6).alias("rate_treat_post"),
        fround(rc0, 6).alias("rate_ctrl_pre"),
        fround(rc1, 6).alias("rate_ctrl_post"),
        fround((rt1 - rt0) - (rc1 - rc0), 6).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# q108 — one-way random-effects ANOVA / intraclass correlation: how much
# of order-value variance is customer-level? (round 9)
# ---------------------------------------------------------------------------


@query(
    "q108_icc_customer",
    oracle="""
    WITH per AS (
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)
                        * CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS ss
        FROM orders GROUP BY 1
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS a,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(s) AS BIGINT) AS st,
               CAST(SUM(ss) AS HUGEINT) AS sst,
               CAST(SUM((CAST(s AS HUGEINT) * s * 1000000) // n) AS HUGEINT) AS t1,
               CAST(SUM(n * n) AS BIGINT) AS sn2
        FROM per
    )
    SELECT a AS n_customers, nn AS n_orders,
           ROUND((CAST(t1 AS DOUBLE) / 1000000.0
                  - CAST(st AS DOUBLE) * st / nn) / (a - 1), 4) AS ms_between,
           ROUND((CAST(sst AS DOUBLE) - CAST(t1 AS DOUBLE) / 1000000.0)
                 / (nn - a), 4) AS ms_within,
           ROUND(((CAST(t1 AS DOUBLE) / 1000000.0
                   - CAST(st AS DOUBLE) * st / nn) / (a - 1))
                 / ((CAST(sst AS DOUBLE) - CAST(t1 AS DOUBLE) / 1000000.0)
                    / (nn - a)), 4) AS f_stat,
           ROUND((CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / nn)
                 / (a - 1), 6) AS k0,
           ROUND((((CAST(t1 AS DOUBLE) / 1000000.0
                    - CAST(st AS DOUBLE) * st / nn) / (a - 1))
                  - ((CAST(sst AS DOUBLE) - CAST(t1 AS DOUBLE) / 1000000.0)
                     / (nn - a)))
                 / (((CAST(t1 AS DOUBLE) / 1000000.0
                      - CAST(st AS DOUBLE) * st / nn) / (a - 1))
                    + (((CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / nn)
                        / (a - 1)) - 1)
                      * ((CAST(sst AS DOUBLE) - CAST(t1 AS DOUBLE) / 1000000.0)
                         / (nn - a))), 6) AS icc
    FROM agg
    """,
    doc="One-way random-effects ANOVA on order value grouped by "
    "customer, read out as the intraclass correlation ICC(1) "
    "(Fisher's variance decomposition; Shrout & Fleiss 1979 "
    "conventions, unbalanced-design k0 per Searle): 'how much of "
    "order-value variance lives BETWEEN customers' — the number that "
    "decides whether customer-level features are worth engineering "
    "and whether per-customer stratification (q82) will pay. Engine "
    "discipline: per-customer (n, S, SS) are exact integer dollar "
    "sums; the one rational per group, S_i^2/n_i, becomes the exact "
    "integer (S_i^2 * 1e6) div n_i — both engines floor-divide int64 "
    "— accumulated in DECIMAL(38,0)/HUGEINT; every displayed stat is "
    "then an identical IEEE expression over those exact aggregates, "
    "rounded 4-6dp. Scale: ONE customer-grain rollup with map-side "
    "combine, then a single-row fold — the grand totals never touch "
    "a window; 1 output row.",
)
def q108_icc_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.floor(F.col("o_totalprice")).cast("bigint").alias("v")
    )
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("a"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum(F.col("ss").cast("decimal(38,0)")).alias("sst"),
        F.sum(
            F.expr("(cast(s as decimal(38,0)) * s * 1000000) div n").cast(
                "decimal(38,0)"
            )
        ).alias("t1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sn2"),
    )
    t1d = F.col("t1").cast("double") / 1_000_000.0
    std = F.col("st").cast("double")
    ssb = t1d - std * F.col("st") / F.col("nn")
    ssw = F.col("sst").cast("double") - t1d
    msb = ssb / (F.col("a") - 1)
    msw = ssw / (F.col("nn") - F.col("a"))
    k0 = (F.col("nn").cast("double") - F.col("sn2").cast("double") / F.col("nn")) / (
        F.col("a") - 1
    )
    return agg.select(
        F.col("a").alias("n_customers"),
        F.col("nn").alias("n_orders"),
        fround(msb, 4).alias("ms_between"),
        fround(msw, 4).alias("ms_within"),
        fround(msb / msw, 4).alias("f_stat"),
        fround(k0, 6).alias("k0"),
        fround((msb - msw) / (msb + (k0 - 1) * msw), 6).alias("icc"),
    )


# ---------------------------------------------------------------------------
# q109 — Theil index of customer-spend inequality, decomposed within /
# between market segments (round 9)
# ---------------------------------------------------------------------------


@query(
    "q109_theil_inequality",
    oracle="""
    WITH cust AS (
        SELECT o.o_custkey,
               c.c_mktsegment AS segment,
               CAST(SUM(CAST(FLOOR(o.o_totalprice) AS BIGINT)) AS BIGINT) AS s
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    seg AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(s) AS BIGINT) AS sg
        FROM cust GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(sg) AS BIGINT) AS st
        FROM seg
    ),
    terms AS (
        SELECT c.segment,
               CAST(FLOOR(CAST(c.s AS DOUBLE)
                          * LN(CAST(c.s AS DOUBLE) * g.ng / g.sg)
                          * 1000000.0 + 0.5) AS HUGEINT) AS tq
        FROM cust c JOIN seg g ON g.segment = c.segment
    ),
    w AS (
        SELECT segment, SUM(tq) AS wq FROM terms GROUP BY 1
    )
    SELECT g.segment,
           g.ng AS n_customers,
           g.sg AS total_dollars,
           ROUND(CAST(g.sg AS DOUBLE) / t.st, 6) AS spend_share,
           ROUND(CAST(w.wq AS DOUBLE) / 1000000.0 / g.sg, 6) AS theil_within,
           ROUND(CAST(g.sg AS DOUBLE) / t.st
                 * LN((CAST(g.sg AS DOUBLE) / t.st)
                      / (CAST(g.ng AS DOUBLE) / t.n)), 6) AS between_term
    FROM seg g
    JOIN w ON w.segment = g.segment
    CROSS JOIN tot t
    """,
    doc="Theil's T index of customer-spend inequality with its "
    "within/between decomposition over market segments (Theil 1967; "
    "Shorrocks 1980 proved generalized-entropy indices are the ONLY "
    "additively decomposable ones — the property Gini (e33) and HHI "
    "(q90) lack, and the reason analysts reach for Theil when the "
    "question is 'is the concentration inside segments or between "
    "them'): T = sum_g share_g*T_g + sum_g share_g*ln(share_g/"
    "popshare_g). Per-customer terms s_i*ln(s_i*N_g/S_g) are "
    "identical IEEE sequences over exact integer dollar sums, "
    "quantized to 1e-6 micro-units BEFORE the segment sum in "
    "HUGEINT/DECIMAL(38,0) (sum-order discipline); each segment's "
    "T_g and between-share term divide back once at display. Scale: "
    "one customer-grain rollup (map-side combine), a 5-row segment "
    "rollup broadcast back onto the customer grain for the term "
    "pass, a 1-row totals broadcast; 5 output rows.",
)
def q109_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.floor(F.col("o_totalprice")).cast("bigint").alias("v")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cust = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("o_custkey"), F.col("c_mktsegment").alias("segment"))
        .agg(F.sum("v").cast("bigint").alias("s"))
    )
    seg = cust.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("s").cast("bigint").alias("sg"),
    )
    tot = seg.agg(
        F.sum("ng").cast("bigint").alias("n"), F.sum("sg").cast("bigint").alias("st")
    )
    terms = cust.join(F.broadcast(seg), "segment").select(
        "segment",
        F.floor(
            F.col("s").cast("double")
            * F.log(F.col("s").cast("double") * F.col("ng") / F.col("sg"))
            * 1_000_000.0
            + F.lit(0.5)
        )
        .cast("decimal(38,0)")
        .alias("tq"),
    )
    w = terms.groupBy("segment").agg(F.sum("tq").alias("wq"))
    return (
        seg.join(w, "segment")
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            F.col("ng").alias("n_customers"),
            F.col("sg").alias("total_dollars"),
            fround(F.col("sg").cast("double") / F.col("st"), 6).alias("spend_share"),
            fround(
                F.col("wq").cast("double") / 1_000_000.0 / F.col("sg"), 6
            ).alias("theil_within"),
            fround(
                F.col("sg").cast("double")
                / F.col("st")
                * F.log(
                    (F.col("sg").cast("double") / F.col("st"))
                    / (F.col("ng").cast("double") / F.col("n"))
                ),
                6,
            ).alias("between_term"),
        )
    )


# ---------------------------------------------------------------------------
# q110 — achieved service level of the q103 reorder policy: cycle
# service vs unit fill rate (round 9; q103's grading consumer)
# ---------------------------------------------------------------------------


@query(
    "q110_fill_rate",
    oracle="""
    WITH weekly AS (
        SELECT p.p_brand AS brand,
               CAST(DATE_TRUNC('week', l.l_shipdate) AS DATE) AS week,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS demand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT brand, demand, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM weekly GROUP BY 1, 2
    ),
    cum AS (
        SELECT brand, demand, cnt,
               SUM(cnt) OVER (PARTITION BY brand ORDER BY demand) AS cum,
               SUM(cnt) OVER (PARTITION BY brand) AS n
        FROM grid
    ),
    fence AS (
        SELECT brand, CAST(MAX(n) AS BIGINT) AS n_weeks,
               MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN demand END) AS p95
        FROM cum GROUP BY brand
    ),
    served AS (
        SELECT g.brand,
               CAST(SUM(CASE WHEN g.demand <= f.p95 THEN g.cnt ELSE 0 END)
                    AS BIGINT) AS wk_cov,
               CAST(SUM(g.cnt * CASE WHEN g.demand <= f.p95
                                     THEN g.demand ELSE f.p95 END)
                    AS BIGINT) AS units_served,
               CAST(SUM(g.cnt * g.demand) AS BIGINT) AS units_demanded
        FROM grid g JOIN fence f ON f.brand = g.brand
        GROUP BY 1
    )
    SELECT f.brand, f.n_weeks, f.p95 AS p95_weekly, s.wk_cov AS weeks_covered,
           ROUND(CAST(s.wk_cov AS DOUBLE) / f.n_weeks, 6) AS cycle_service,
           ROUND(CAST(s.units_served AS DOUBLE) / s.units_demanded, 6)
               AS unit_fill_rate
    FROM fence f JOIN served s ON s.brand = f.brand
    """,
    doc="Grades the q103 reorder policy on its own history (the "
    "m07->m08 consumer pattern applied to inventory): stock each "
    "brand to its P95 weekly demand and replay every historical week "
    "— cycle service level (fraction of weeks fully covered, the "
    "alpha service measure the P95 fence TARGETS, so it should read "
    ">= 0.95 by construction — a value below means the fence logic "
    "broke) beside the stricter UNIT fill rate (fraction of demanded "
    "units served = sum min(demand, P95) / sum demand, the beta "
    "measure customers actually feel; the classical alpha-vs-beta "
    "distinction, Silver-Pyke-Peterson). Both rates are exact "
    "integer ratios off the SAME (brand, demand-value) grid q103 "
    "builds — the replay never touches week rows, only grid cells "
    "weighted by cnt. Scale: identical to q103 (one fact rollup, "
    "grid-bounded windows, broadcast part dim); 25 output rows.",
)
def q110_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    weekly = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("demand"))
    )
    grid = weekly.groupBy("brand", "demand").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wc = W.partitionBy("brand").orderBy("demand")
    wn = W.partitionBy("brand")
    cum = grid.select(
        "brand",
        "demand",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    fence = cum.groupBy("brand").agg(
        F.max("n").cast("bigint").alias("n_weeks"),
        F.min(
            F.when(F.col("cum") >= F.expr("(95 * n + 99) div 100"), F.col("demand"))
        ).alias("p95"),
    )
    served = (
        grid.join(F.broadcast(fence), "brand")
        .groupBy("brand")
        .agg(
            F.sum(F.when(F.col("demand") <= F.col("p95"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("wk_cov"),
            F.sum(F.col("cnt") * F.least(F.col("demand"), F.col("p95")))
            .cast("bigint")
            .alias("units_served"),
            F.sum(F.col("cnt") * F.col("demand")).cast("bigint").alias("units_demanded"),
        )
    )
    return fence.join(served, "brand").select(
        "brand",
        "n_weeks",
        F.col("p95").alias("p95_weekly"),
        F.col("wk_cov").alias("weeks_covered"),
        fround(F.col("wk_cov").cast("double") / F.col("n_weeks"), 6).alias(
            "cycle_service"
        ),
        fround(
            F.col("units_served").cast("double") / F.col("units_demanded"), 6
        ).alias("unit_fill_rate"),
    )


# ---------------------------------------------------------------------------
# q111 — Page–Hinkley drift detection on the daily revenue series
# (round 10): e23's CUSUM is the offline argmax scan; this is the
# ONLINE detector (running-min form with a drift allowance)
# ---------------------------------------------------------------------------


@query(
    "q111_page_hinkley",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) // 100 AS x
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s FROM daily),
    seq AS (
        SELECT day,
               ROW_NUMBER() OVER (ORDER BY day) AS t,
               CAST(SUM(x) OVER (ORDER BY day) AS BIGINT) AS cum,
               n, s
        FROM daily CROSS JOIN tot
    ),
    v AS (
        SELECT day, t, n,
               n * cum - t * s - t * (s // 100) AS vi,
               t * s - n * cum - t * (s // 100) AS vd
        FROM seq
    ),
    ph AS (
        SELECT day, n,
               vi - MIN(vi) OVER (ORDER BY day) AS pi,
               vd - MIN(vd) OVER (ORDER BY day) AS pd
        FROM v
    ),
    mx AS (SELECT MAX(pi) AS mi, MAX(pd) AS md, MAX(n) AS n FROM ph)
    SELECT mx.n AS n_days,
           (FLOOR(CAST(mx.mi AS DOUBLE) / mx.n * 10000.0 + 0.5) / 10000.0)
               AS ph_increase,
           strftime((SELECT MIN(day) FROM ph WHERE pi = mx.mi), '%Y-%m-%d')
               AS increase_day,
           (FLOOR(CAST(mx.md AS DOUBLE) / mx.n * 10000.0 + 0.5) / 10000.0)
               AS ph_decrease,
           strftime((SELECT MIN(day) FROM ph WHERE pd = mx.md), '%Y-%m-%d')
               AS decrease_day
    FROM mx
    """,
    doc="Page–Hinkley drift detector (Page 1954, the running-min form "
    "every streaming-drift library ships) on the daily revenue "
    "series: U_t = sum_{i<=t}(x_i - xbar - delta) and "
    "PH_t = U_t - min_{s<=t} U_s, reported at its max for both "
    "directions with the argmax day — e23's CUSUM is the offline "
    "argmax |cusum| scan against the global mean; PH is the ONLINE "
    "alarm statistic (the running minimum resets the baseline after "
    "every dip, so a late shift is not masked by early history). "
    "Everything stays EXACT INTEGER by multiplying through by n: "
    "v_t = n*cum_t - t*S - t*(S div 100) (the last term is the "
    "delta = mean/100 drift allowance, integer-divided identically "
    "on both engines); the single division by n happens once at "
    "display. Windows walk the calendar-bounded day grid (~2.4k "
    "rows however many orders exist); the only data-sized stage is "
    "the per-day rollup with map-side combine. On this uniform "
    "synthetic series both PH maxima are noise-sized — the "
    "calibrated null readout, like q101.",
)
def q111_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # integer dollars: exact cents sum, then integer `div` (a BIGINT/100
    # in Spark would be a double divide)
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            " div 100"
        ).alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    seq = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        F.row_number().over(W.orderBy("day")).cast("bigint").alias("t"),
        F.sum("x").over(W.orderBy("day")).cast("bigint").alias("cum"),
        "s",
    )
    v = seq.select(
        "day",
        "n",
        (F.col("n") * F.col("cum") - F.col("t") * F.col("s")
         - F.col("t") * F.expr("s div 100")).alias("vi"),
        (F.col("t") * F.col("s") - F.col("n") * F.col("cum")
         - F.col("t") * F.expr("s div 100")).alias("vd"),
    )
    ph = v.select(
        "day",
        "n",
        (F.col("vi") - F.min("vi").over(W.orderBy("day"))).alias("pi"),
        (F.col("vd") - F.min("vd").over(W.orderBy("day"))).alias("pd"),
    ).persist()
    mx = ph.agg(
        F.max("pi").alias("mi"), F.max("pd").alias("md"), F.max("n").alias("n")
    )
    inc = (
        ph.join(F.broadcast(mx.select("mi")), F.col("pi") == F.col("mi"))
        .agg(F.min("day").alias("inc_day"))
    )
    dec = (
        ph.join(F.broadcast(mx.select("md")), F.col("pd") == F.col("md"))
        .agg(F.min("day").alias("dec_day"))
    )
    return (
        mx.crossJoin(F.broadcast(inc))
        .crossJoin(F.broadcast(dec))
        .select(
            F.col("n").alias("n_days"),
            fround(F.col("mi").cast("double") / F.col("n"), 4).alias("ph_increase"),
            F.date_format("inc_day", "yyyy-MM-dd").alias("increase_day"),
            fround(F.col("md").cast("double") / F.col("n"), 4).alias("ph_decrease"),
            F.date_format("dec_day", "yyyy-MM-dd").alias("decrease_day"),
        )
    )


# ---------------------------------------------------------------------------
# q112 — Mann–Kendall trend test on the daily revenue series (round 10)
# ---------------------------------------------------------------------------


@query(
    "q112_mann_kendall_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) // 100 AS x
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
        FROM daily a JOIN daily b ON b.day > a.day
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    ties AS (
        SELECT CAST(COALESCE(SUM(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY 1)
        WHERE c > 1
    ),
    var18 AS (
        SELECT nn.n, s.s_stat,
               nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term AS v18
        FROM nn CROSS JOIN ties CROSS JOIN s
    )
    SELECT n AS n_days, s_stat,
           CAST(v18 AS DOUBLE) / 18.0 AS var_s,
           (FLOOR((CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                        WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                        ELSE 0.0 END / SQRT(CAST(v18 AS DOUBLE) / 18.0))
               * 1000000.0 + 0.5) / 1000000.0) AS z,
           CASE WHEN CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                          WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                          ELSE 0.0 END / SQRT(CAST(v18 AS DOUBLE) / 18.0)
                     > 1.96 THEN 'increasing'
                WHEN CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                          WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                          ELSE 0.0 END / SQRT(CAST(v18 AS DOUBLE) / 18.0)
                     < -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM var18
    """,
    doc="Mann–Kendall monotone-trend test (Mann 1945, Kendall 1975 — "
    "the nonparametric trend screen hydrology and sales forecasting "
    "default to): S = sum of sign(x_j - x_i) over all day pairs "
    "i < j, tie-corrected variance Var(S) = [n(n-1)(2n+5) - "
    "sum t(t-1)(2t+5)]/18 over tied revenue values, continuity-"
    "corrected z = (S -/+ 1)/sqrt(Var). The pair double-sum runs on "
    "the CALENDAR-BOUNDED day grid (~2.4k days -> ~3M cell pairs "
    "however many orders exist — q100's grid discipline applied to "
    "the time axis), tie masses come off the revenue value grid, and "
    "S / Var(S)'s 18-denominator stay exact integers; the only "
    "doubles are one division and one sqrt, identical IEEE ops on "
    "both engines. q77 (Theil–Sen) estimates the SLOPE; this tests "
    "the HYPOTHESIS. Trend verdict at the 1.96 two-sided fence. "
    "Scale: daily rollup with map-side combine, then constant-size "
    "grid work.",
)
def q112_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            " div 100"
        ).alias("x")
    ).persist()
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var18 = (
        nn.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(s))
        .withColumn(
            "v18",
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_term"),
        )
    )
    zc = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    ) / F.sqrt(F.col("v18").cast("double") / 18.0)
    return var18.select(
        F.col("n").alias("n_days"),
        "s_stat",
        (F.col("v18").cast("double") / 18.0).alias("var_s"),
        fround(zc, 6).alias("z"),
        F.when(zc > 1.96, F.lit("increasing"))
        .when(zc < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# q113 — turning-points randomness test on daily revenue (round 10)
# ---------------------------------------------------------------------------


@query(
    "q113_turning_points",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) // 100 AS x
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT x,
               LAG(x) OVER (ORDER BY day) AS xp,
               LEAD(x) OVER (ORDER BY day) AS xn
        FROM daily
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN xp IS NOT NULL AND xn IS NOT NULL
                              AND (x - xp) * (xn - x) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
        FROM lagged
    )
    SELECT n AS n_days, n_turning,
           (FLOOR(2.0 * (n - 2) / 3.0 * 10000.0 + 0.5) / 10000.0)
               AS expected_turning,
           (FLOOR((CAST(n_turning AS DOUBLE) - 2.0 * (n - 2) / 3.0)
               / SQRT((16.0 * n - 29.0) / 90.0) * 10000.0 + 0.5) / 10000.0)
               AS z,
           CASE WHEN ABS((CAST(n_turning AS DOUBLE) - 2.0 * (n - 2) / 3.0)
                    / SQRT((16.0 * n - 29.0) / 90.0)) > 1.96
                THEN 'non_random' ELSE 'random' END AS verdict
    FROM agg
    """,
    doc="Turning-points test for series randomness (Kendall & Stuart — "
    "the classic complement to q102's median-crossing runs test): an "
    "interior day is a turning point when (x_t - x_{t-1}) * "
    "(x_{t+1} - x_t) < 0, i.e. a strict local peak or trough; under "
    "i.i.d. the count is asymptotically normal with mean 2(n-2)/3 "
    "and variance (16n-29)/90. The runs test sees only the median "
    "DICHOTOMY (long one-sided excursions); turning points see "
    "LOCAL oscillation (too many = negative autocorrelation, too "
    "few = smoothness/trend) — together they screen a series from "
    "both ends. One lag + one lead window over the calendar-bounded "
    "day grid; the turning count and n are exact integers, the only "
    "doubles are the fixed-constant mean/variance formulas and one "
    "sqrt, identical IEEE on both engines. Two-sided 1.96 verdict.",
)
def q113_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            " div 100"
        ).alias("x")
    )
    lagged = daily.select(
        "x",
        F.lag("x").over(W.orderBy("day")).alias("xp"),
        F.lead("x").over(W.orderBy("day")).alias("xn"),
    )
    agg = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("xp").isNotNull()
                & F.col("xn").isNotNull()
                & ((F.col("x") - F.col("xp")) * (F.col("xn") - F.col("x")) < 0),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_turning"),
    )
    nd = F.col("n").cast("double")
    z = (F.col("n_turning").cast("double") - 2.0 * (nd - 2) / 3.0) / F.sqrt(
        (16.0 * nd - 29.0) / 90.0
    )
    return agg.select(
        F.col("n").alias("n_days"),
        "n_turning",
        fround(2.0 * (nd - 2) / 3.0, 4).alias("expected_turning"),
        fround(z, 4).alias("z"),
        F.when(F.abs(z) > 1.96, F.lit("non_random"))
        .otherwise(F.lit("random"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q114 — Jarque–Bera normality test on daily revenue (round 10)
# ---------------------------------------------------------------------------


@query(
    "q114_jarque_bera",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) // 100000 AS x
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s FROM daily),
    dev AS (
        SELECT n, CAST(n AS HUGEINT) * x - s AS d
        FROM daily CROSS JOIN tot
    ),
    mom AS (
        SELECT MAX(n) AS n,
               SUM(d * d) AS m2,
               SUM(d * d * d) AS m3,
               SUM(d * d * d * d) AS m4
        FROM dev
    ),
    st AS (
        SELECT n,
               SQRT(CAST(n AS DOUBLE)) * CAST(m3 AS DOUBLE)
                   / POWER(CAST(m2 AS DOUBLE), 1.5) AS skew,
               CAST(n AS DOUBLE) * CAST(m4 AS DOUBLE)
                   / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) - 3.0 AS exk
        FROM mom
    )
    SELECT n AS n_days,
           (FLOOR(skew * 1000000.0 + 0.5) / 1000000.0) AS skewness,
           (FLOOR(exk * 1000000.0 + 0.5) / 1000000.0) AS ex_kurtosis,
           (FLOOR(CAST(n AS DOUBLE) / 6.0 * (skew * skew + exk * exk / 4.0)
               * 10000.0 + 0.5) / 10000.0) AS jb_stat,
           (FLOOR(EXP(-(CAST(n AS DOUBLE) / 6.0
                * (skew * skew + exk * exk / 4.0)) / 2.0)
               * 1000000.0 + 0.5) / 1000000.0) AS p_value
    FROM st
    """,
    doc="Jarque–Bera normality test (Jarque & Bera 1980) on the daily "
    "revenue series: JB = n/6 * (skew^2 + ex_kurtosis^2/4), with the "
    "chi-square(2) survival p = exp(-JB/2) — closed form, no special "
    "functions, so the p-value is exactly expressible on both "
    "engines (unlike normal-CDF tests, which stop at z). Moments "
    "are EXACT integers via the q101 multiply-through trick taken "
    "to 4th power: the series is quantized to hundreds of dollars "
    "(x = cents div 1e5 — at that scale d = n*x - S stays ~1e8, so "
    "d^4 sums stay under DECIMAL(38,0)/HUGEINT), deviations never "
    "touch a non-integer mean, and skew/kurtosis come from three "
    "integer power sums cast to double once (skew = sqrt(n)*M3/"
    "M2^1.5, kurt = n*M4/M2^2 — scale-invariant in d, so the n "
    "multipliers cancel). Single calendar-bounded aggregation after "
    "the daily rollup. The uniform synthetic series is platykurtic "
    "(negative excess kurtosis), so JB rejects — the readout "
    "documents WHY a gaussianity assumption would mislead here.",
)
def q114_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            " div 100000"
        ).alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "n",
        (F.col("n").cast("decimal(13,0)") * F.col("x") - F.col("s"))
        .cast("decimal(13,0)")
        .alias("d"),
    )
    mom = dev.select(
        "n",
        F.col("d"),
        (F.col("d") * F.col("d")).cast("decimal(27,0)").alias("d2"),
    ).agg(
        F.max("n").alias("n"),
        F.sum("d2").cast("decimal(38,0)").alias("m2"),
        F.sum(F.expr("CAST(d2 * d AS DECIMAL(38,0))")).cast("decimal(38,0)").alias("m3"),
        F.sum(F.expr("CAST(d2 * d2 AS DECIMAL(38,0))")).cast("decimal(38,0)").alias("m4"),
    )
    nd = F.col("n").cast("double")
    skew = (
        F.sqrt(nd)
        * F.col("m3").cast("double")
        / F.pow(F.col("m2").cast("double"), F.lit(1.5))
    )
    exk = (
        nd * F.col("m4").cast("double")
        / (F.col("m2").cast("double") * F.col("m2").cast("double"))
        - 3.0
    )
    st = mom.select("n", skew.alias("skew"), exk.alias("exk"))
    jb = F.col("n").cast("double") / 6.0 * (
        F.col("skew") * F.col("skew") + F.col("exk") * F.col("exk") / 4.0
    )
    return st.select(
        F.col("n").alias("n_days"),
        fround(F.col("skew"), 6).alias("skewness"),
        fround(F.col("exk"), 6).alias("ex_kurtosis"),
        fround(jb, 4).alias("jb_stat"),
        fround(F.exp(-jb / 2.0), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# q115 — EOQ (economic order quantity) policy per brand (round 10)
# ---------------------------------------------------------------------------

Q115_ORDER_COST = 100.0  # fixed cost per replenishment order
Q115_HOLD_RATE = 0.2  # annual holding cost as a fraction of unit cost


@query(
    "q115_eoq_policy",
    oracle=f"""
    WITH demand AS (
        SELECT p.p_brand AS brand,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_demand,
               CAST(SUM(CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS price_cents,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    ),
    pol AS (
        SELECT brand, total_demand, n_lines,
               CAST(price_cents AS DOUBLE) / n_lines / 100.0 AS unit_cost
        FROM demand
    )
    SELECT brand, total_demand,
           (FLOOR(unit_cost * 100.0 + 0.5) / 100.0) AS unit_cost,
           (FLOOR(SQRT(2.0 * total_demand * {Q115_ORDER_COST}
                / ({Q115_HOLD_RATE} * unit_cost)) * 100.0 + 0.5) / 100.0)
               AS eoq,
           (FLOOR(CAST(total_demand AS DOUBLE)
                / SQRT(2.0 * total_demand * {Q115_ORDER_COST}
                     / ({Q115_HOLD_RATE} * unit_cost)) * 100.0 + 0.5) / 100.0)
               AS orders_per_period
    FROM pol
    ORDER BY total_demand DESC, brand
    LIMIT 10
    """,
    doc="EOQ replenishment policy (Harris 1913 — the square-root rule "
    "every inventory system starts from) per part brand: EOQ = "
    f"sqrt(2*D*S/H) with S = {Q115_ORDER_COST} fixed order cost and "
    f"H = {Q115_HOLD_RATE} * unit cost annual holding; "
    "orders_per_period = D/EOQ is the implied replenishment "
    "frequency. Demand D = exact integer quantity sum from the "
    "lineitem fact; unit cost = line-weighted mean retail price "
    "from EXACT cents sums, divided once. Complements q103 (safety "
    "stock = how much buffer) and q110 (fill rate = service "
    "achieved): EOQ answers how much to ORDER per cycle. One "
    "broadcast-joined rollup (part is the small side), top-10 "
    "brands by demand with brand tiebreak; doubles appear only in "
    "the final sqrt/divisions, identical IEEE on both engines.",
)
def q115_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    demand = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias(
                "total_demand"
            ),
            F.sum(
                F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("price_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )
    unit_cost = F.col("price_cents").cast("double") / F.col("n_lines") / 100.0
    eoq = F.sqrt(
        2.0
        * F.col("total_demand")
        * Q115_ORDER_COST
        / (Q115_HOLD_RATE * unit_cost)
    )
    return (
        demand.select(
            "brand",
            "total_demand",
            fround(unit_cost, 2).alias("unit_cost"),
            fround(eoq, 2).alias("eoq"),
            fround(F.col("total_demand").cast("double") / eoq, 2).alias(
                "orders_per_period"
            ),
        )
        .orderBy(F.desc("total_demand"), "brand")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q116 — Spearman's rho between discount and quantity on the VALUE GRID
# (round 10): the midrank-Pearson companion to q100's Kendall tau-b —
# same grid, same exact-integer discipline, the OTHER rank correlation
# every stats library reports
# ---------------------------------------------------------------------------


@query(
    "q116_spearman_rho",
    oracle="""
    WITH cells AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS d,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2, 3
    ),
    dm AS (
        SELECT flag, d,
               2 * SUM(td) OVER (PARTITION BY flag ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - td + 1 AS rd2
        FROM (SELECT flag, d, CAST(SUM(c) AS BIGINT) AS td
              FROM cells GROUP BY 1, 2) m
    ),
    qm AS (
        SELECT flag, q,
               2 * SUM(tq) OVER (PARTITION BY flag ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - tq + 1 AS rq2
        FROM (SELECT flag, q, CAST(SUM(c) AS BIGINT) AS tq
              FROM cells GROUP BY 1, 2) m
    ),
    sums AS (
        SELECT c.flag,
               CAST(SUM(c.c) AS BIGINT) AS n,
               CAST(SUM(CAST(c.c AS HUGEINT) * rd2) AS HUGEINT) AS sa,
               CAST(SUM(CAST(c.c AS HUGEINT) * rq2) AS HUGEINT) AS sb,
               CAST(SUM(CAST(c.c AS HUGEINT) * rd2 * rd2) AS HUGEINT) AS saa,
               CAST(SUM(CAST(c.c AS HUGEINT) * rq2 * rq2) AS HUGEINT) AS sbb,
               CAST(SUM(CAST(c.c AS HUGEINT) * rd2 * rq2) AS HUGEINT) AS sab
        FROM cells c
        JOIN dm ON dm.flag = c.flag AND dm.d = c.d
        JOIN qm ON qm.flag = c.flag AND qm.q = c.q
        GROUP BY c.flag
    )
    SELECT flag, n,
           (FLOOR((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
               / SQRT((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                       - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
               * 1000000.0 + 0.5) / 1000000.0) AS rho_s
    FROM sums
    """,
    doc="Spearman's rho between discount and quantity per return flag "
    "— Pearson correlation of MIDRANKS (the tie-correct form; Kendall "
    "1948 ch.3), read next to q100's tau-b: tau counts pair "
    "inversions, rho measures rank-distance, and a gap between them "
    "flags heavy tie structure or outlier ranks. Midranks never touch "
    "row grain: on the 11x50 (discount, quantity) VALUE GRID the "
    "midrank of value v is (cum count through v) - (count at v)/2 + "
    "1/2, so DOUBLED midranks rd2 = 2*cum - t + 1 are exact integers "
    "off a window over the <=11/<=50-row margin frames, and the "
    "Pearson formula is scale-invariant so the 2x never needs "
    "undoing. All five moment sums accumulate c*rd2*rq2-sized exact "
    "integers in DECIMAL(38,0)/HUGEINT (rank products are O(n^2) per "
    "row, n^3 summed — past int64 by sf10); both engines then divide "
    "identical doubles, 1e-6-quantized. Scale: one map-side-"
    "combinable grid rollup is the only data-sized stage; margins, "
    "windows, and the moment fold are all grid-bounded.",
)
def q116_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint").alias("d"),
        F.col("l_quantity").cast("bigint").alias("q"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wd = W.partitionBy("flag").orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    dm = (
        cells.groupBy("flag", "d")
        .agg(F.sum("c").cast("bigint").alias("td"))
        .select(
            "flag",
            "d",
            (F.lit(2) * F.sum("td").over(wd) - F.col("td") + 1).alias("rd2"),
        )
    )
    wq = W.partitionBy("flag").orderBy("q").rowsBetween(W.unboundedPreceding, W.currentRow)
    qm = (
        cells.groupBy("flag", "q")
        .agg(F.sum("c").cast("bigint").alias("tq"))
        .select(
            "flag",
            "q",
            (F.lit(2) * F.sum("tq").over(wq) - F.col("tq") + 1).alias("rq2"),
        )
    )
    dec = "decimal(38,0)"
    cc = F.col("c").cast(dec)
    sums = (
        cells.join(F.broadcast(dm), ["flag", "d"])
        .join(F.broadcast(qm), ["flag", "q"])
        .groupBy("flag")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(cc * F.col("rd2")).cast(dec).alias("sa"),
            F.sum(cc * F.col("rq2")).cast(dec).alias("sb"),
            F.sum(cc * F.col("rd2") * F.col("rd2")).cast(dec).alias("saa"),
            F.sum(cc * F.col("rq2") * F.col("rq2")).cast(dec).alias("sbb"),
            F.sum(cc * F.col("rd2") * F.col("rq2")).cast(dec).alias("sab"),
        )
    )
    dn = F.col("n").cast("double")
    num = dn * F.col("sab").cast("double") - F.col("sa").cast("double") * F.col(
        "sb"
    ).cast("double")
    va = dn * F.col("saa").cast("double") - F.col("sa").cast("double") * F.col(
        "sa"
    ).cast("double")
    vb = dn * F.col("sbb").cast("double") - F.col("sb").cast("double") * F.col(
        "sb"
    ).cast("double")
    rho = F.floor(num / F.sqrt(va * vb) * 1000000.0 + F.lit(0.5)) / 1000000.0
    return sums.select("flag", "n", rho.alias("rho_s"))


# ---------------------------------------------------------------------------
# q117 — Cramér's V / Tschuprow's T association between order priority
# and order status (round 10): the EFFECT-SIZE companion to the t34
# chi-square INDEPENDENCE test — significance says "is there any
# association"; these say "how strong", on a [0,1] scale sample size
# cannot inflate
# ---------------------------------------------------------------------------

_Q117_Q = 1_000_000_000.0  # 1e-9 per-cell chi2 term quantization


@query(
    "q117_cramers_v",
    oracle=f"""
    WITH cells AS (
        SELECT o_orderpriority AS pri, o_orderstatus AS st,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT pri, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT st, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT pri) AS BIGINT) AS r,
                   CAST(COUNT(DISTINCT st) AS BIGINT) AS k
            FROM cells),
    terms AS (
        SELECT CAST(FLOOR(
                   CAST((CAST(n AS HUGEINT) * o - CAST(rt AS HUGEINT) * ct)
                        * (CAST(n AS HUGEINT) * o - CAST(rt AS HUGEINT) * ct)
                       AS DOUBLE)
                   / (CAST(n AS DOUBLE) * rt * ct)
                   * {_Q117_Q} + 0.5) AS BIGINT) AS qt
        FROM cells JOIN rt USING (pri) JOIN ct USING (st) CROSS JOIN tot
    ),
    chi AS (SELECT CAST(SUM(qt) AS BIGINT) AS qchi FROM terms)
    SELECT n,
           CAST(r AS INTEGER) AS n_rows_cat,
           CAST(k AS INTEGER) AS n_cols_cat,
           {sql_fround(f"CAST(qchi AS DOUBLE) / {_Q117_Q}", 6)} AS chi2,
           {sql_fround(
               f"SQRT(CAST(qchi AS DOUBLE) / {_Q117_Q}"
               " / (CAST(n AS DOUBLE) * (LEAST(r, k) - 1)))", 6
           )} AS cramers_v,
           {sql_fround(
               f"SQRT(CAST(qchi AS DOUBLE) / {_Q117_Q}"
               " / (CAST(n AS DOUBLE) * SQRT(CAST((r - 1) * (k - 1) AS DOUBLE))))",
               6
           )} AS tschuprow_t
    FROM tot CROSS JOIN chi
    """,
    doc="Cramér's V and Tschuprow's T between order priority and order "
    "status — the [0,1]-normalized ASSOCIATION effect sizes (Cramér "
    "1946 §21.9; Tschuprow 1925) read next to a chi-square test's "
    "p-value: at 100 TB every independence test rejects (n inflates "
    "chi2 without bound), so the effect size is the only number worth "
    "alerting on. chi2 is computed cell-wise from the identity "
    "(n·o − rt·ct)²/(n·rt·ct) — numerator an exact "
    "DECIMAL(38,0)/HUGEINT product of count aggregates, one double "
    "division per cell, each term 1e-9-quantized before the 15-term "
    "sum (order independence). V divides by min(r,k)−1, T by "
    "sqrt((r−1)(k−1)) — identical on square tables, diverging on "
    "rectangular ones (the reason both are reported). On this "
    "uniform synthetic table both read ≈ 0 — the calibrated null, "
    "like q111/t73's zero channels. Scale: one map-side-combinable "
    "(priority, status) rollup is the only data-sized stage; margins "
    "and the 15-cell term pass are grid-bounded.",
)
def q117_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    rt = cells.groupBy("pri").agg(F.sum("o").cast("bigint").alias("rt"))
    ct = cells.groupBy("st").agg(F.sum("o").cast("bigint").alias("ct"))
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count_distinct("pri").cast("bigint").alias("r"),
        F.count_distinct("st").cast("bigint").alias("k"),
    )
    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * F.col("o").cast(dec)
        - F.col("rt").cast(dec) * F.col("ct").cast(dec)
    )
    qt = F.floor(
        (num * num).cast("double")
        / (F.col("n").cast("double") * F.col("rt") * F.col("ct"))
        * _Q117_Q
        + F.lit(0.5)
    ).cast("bigint")
    chi = (
        cells.join(F.broadcast(rt), "pri")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(tot))
        .select(qt.alias("qt"))
        .agg(F.sum("qt").cast("bigint").alias("qchi"))
    )
    c2 = F.col("qchi").cast("double") / _Q117_Q
    dn = F.col("n").cast("double")
    return (
        tot.crossJoin(F.broadcast(chi))
        .select(
            "n",
            F.col("r").cast("int").alias("n_rows_cat"),
            F.col("k").cast("int").alias("n_cols_cat"),
            fround(c2, 6).alias("chi2"),
            fround(
                F.sqrt(c2 / (dn * (F.least("r", "k") - F.lit(1)))), 6
            ).alias("cramers_v"),
            fround(
                F.sqrt(
                    c2
                    / (
                        dn
                        * F.sqrt(
                            ((F.col("r") - 1) * (F.col("k") - 1)).cast("double")
                        )
                    )
                ),
                6,
            ).alias("tschuprow_t"),
        )
    )


# ---------------------------------------------------------------------------
# q118 — newsvendor order quantity graded by its exact expected cost
# (round 10): q103 picks a fence from a SERVICE target; this picks it
# from COSTS (critical ratio Cu/(Cu+Co)) and then grades the decision
# by expected overage/underage on the same empirical grid — the q110
# "policy graded on its own history" pattern applied to the newsvendor
# ---------------------------------------------------------------------------

Q118_CU = 40  # underage cost per unit (lost margin)
Q118_CO = 10  # overage cost per unit (holding/salvage loss)
# critical ratio Cu/(Cu+Co) = 0.8 -> order to the empirical P80


@query(
    "q118_newsvendor_cost",
    oracle=f"""
    WITH weekly AS (
        SELECT p.p_brand AS brand,
               CAST(DATE_TRUNC('week', l.l_shipdate) AS DATE) AS week,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS demand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT brand, demand, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM weekly GROUP BY 1, 2
    ),
    cum AS (
        SELECT brand, demand, cnt,
               SUM(cnt) OVER (PARTITION BY brand ORDER BY demand) AS cum,
               SUM(cnt) OVER (PARTITION BY brand) AS n
        FROM grid
    ),
    fence AS (
        SELECT brand, CAST(MAX(n) AS BIGINT) AS n_weeks,
               MIN(CASE WHEN cum >= ({Q118_CU} * n + {Q118_CU + Q118_CO} - 1)
                       // {Q118_CU + Q118_CO}
                   THEN demand END) AS qstar
        FROM cum GROUP BY brand
    ),
    graded AS (
        SELECT g.brand, f.n_weeks, f.qstar,
               CAST(SUM(CASE WHEN g.demand < f.qstar
                    THEN (f.qstar - g.demand) * g.cnt ELSE 0 END) AS BIGINT)
                   AS over_n,
               CAST(SUM(CASE WHEN g.demand > f.qstar
                    THEN (g.demand - f.qstar) * g.cnt ELSE 0 END) AS BIGINT)
                   AS under_n
        FROM grid g JOIN fence f ON f.brand = g.brand
        GROUP BY g.brand, f.n_weeks, f.qstar
    )
    SELECT brand, n_weeks, qstar,
           {sql_fround("CAST(over_n AS DOUBLE) / n_weeks", 4)} AS e_overage_units,
           {sql_fround("CAST(under_n AS DOUBLE) / n_weeks", 4)} AS e_underage_units,
           {sql_fround(
               f"({Q118_CO}.0 * over_n + {Q118_CU}.0 * under_n) / n_weeks", 4
           )} AS e_cost
    FROM graded
    """,
    doc=f"Newsvendor order quantity per brand graded by its exact "
    f"expected cost: Q* is the empirical critical fractile "
    f"Cu/(Cu+Co) = {Q118_CU}/{Q118_CU + Q118_CO} of weekly demand "
    "(Arrow–Harris–Marschak 1951 — the optimal single-period order "
    "under asymmetric over/under costs), found by the SAME exact "
    "integer ceil-division fence discipline as q103's P95; then the "
    "decision is GRADED on the distribution that produced it (the "
    "q110 pattern): E[overage] = Σ_(d<Q*)(Q*−d)p(d) and E[underage] "
    "= Σ_(d>Q*)(d−Q*)p(d) accumulate as n-scaled exact integer sums "
    "over the (brand, demand) VALUE grid — no float until the final "
    "per-week division — so the reported expected cost is the true "
    "empirical optimum's cost, not a normal approximation. q103 "
    "answers 'stock for a 95% service target'; this answers 'stock "
    "where the margin/holding cost trade-off says', and the gap "
    "between the two fences is the price of the service promise. "
    "Scale: identical shape to q103 — one (brand, week) rollup with "
    "map-side combine, broadcast part dim, windows and the grading "
    "join walk the grid only.",
)
def q118_newsvendor_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    weekly = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("demand"))
    )
    grid = weekly.groupBy("brand", "demand").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = W.partitionBy("brand").orderBy("demand")
    wall = W.partitionBy("brand")
    cr_num, cr_den = Q118_CU, Q118_CU + Q118_CO
    cum = grid.select(
        "brand",
        "demand",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    fence = cum.groupBy("brand").agg(
        F.max("n").cast("bigint").alias("n_weeks"),
        F.min(
            F.when(
                F.col("cum")
                >= F.expr(f"({cr_num} * n + {cr_den - 1}) div {cr_den}"),
                F.col("demand"),
            )
        ).alias("qstar"),
    )
    graded = (
        grid.join(F.broadcast(fence), "brand")
        .groupBy("brand", "n_weeks", "qstar")
        .agg(
            F.sum(
                F.when(
                    F.col("demand") < F.col("qstar"),
                    (F.col("qstar") - F.col("demand")) * F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("over_n"),
            F.sum(
                F.when(
                    F.col("demand") > F.col("qstar"),
                    (F.col("demand") - F.col("qstar")) * F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("under_n"),
        )
    )
    nw = F.col("n_weeks").cast("double")
    return graded.select(
        "brand",
        "n_weeks",
        "qstar",
        fround(F.col("over_n").cast("double") / nw, 4).alias("e_overage_units"),
        fround(F.col("under_n").cast("double") / nw, 4).alias("e_underage_units"),
        fround(
            (F.lit(float(Q118_CO)) * F.col("over_n")
             + F.lit(float(Q118_CU)) * F.col("under_n")) / nw,
            4,
        ).alias("e_cost"),
    )


# ---------------------------------------------------------------------------
# q119 — exponential-smoothing demand forecast graded against the naive
# forecaster (round 10): the FORECASTING member of the inventory shelf
# (q103 safety stock / q110 fill rate / q115 EOQ / q118 newsvendor all
# consume a demand forecast; this produces one and scores it)
# ---------------------------------------------------------------------------

Q119_ALPHA = 0.3
Q119_LAGS = 32  # truncated SES kernel length
_Q119_WQ = 1_000_000_000
# wq[d] = round(alpha * (1-alpha)^(d-1) * 1e9), d = 1..LAGS — the SES
# kernel as integer literals injected into BOTH engines; truncation at
# 32 lags discards < (1-alpha)^32 ~ 1e-5 of the mass, and per-row
# renormalization by the sum of USED weights makes early weeks exact
# rather than biased
Q119_WQS: tuple[int, ...] = tuple(
    round(Q119_ALPHA * (1.0 - Q119_ALPHA) ** (d - 1) * _Q119_WQ)
    for d in range(1, Q119_LAGS + 1)
)
_Q119_WQ_SQL = "[" + ", ".join(str(v) for v in Q119_WQS) + "]"
_Q119_EQ = 1_000_000.0  # 1e-6 per-week absolute-error quantization


@query(
    "q119_ses_forecast",
    oracle=f"""
    WITH weekly AS (
        SELECT p.p_brand AS brand,
               CAST(DATE_TRUNC('week', l.l_shipdate) AS DATE) AS week,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS x
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    seq AS (
        SELECT brand, x,
               CAST(ROW_NUMBER() OVER (PARTITION BY brand ORDER BY week)
                   AS BIGINT) AS rn
        FROM weekly
    ),
    kernel AS (
        SELECT t.brand, t.rn, t.x,
               CAST(SUM(s.x * ({_Q119_WQ_SQL})[
                   CAST(t.rn - s.rn AS INTEGER)]) AS BIGINT) AS fq,
               CAST(SUM(({_Q119_WQ_SQL})[
                   CAST(t.rn - s.rn AS INTEGER)]) AS BIGINT) AS wq,
               MAX(CASE WHEN s.rn = t.rn - 1 THEN s.x END) AS prev_x
        FROM seq t JOIN seq s
          ON s.brand = t.brand
         AND t.rn - s.rn BETWEEN 1 AND {Q119_LAGS}
        GROUP BY t.brand, t.rn, t.x
    ),
    errs AS (
        SELECT brand,
               CAST(FLOOR(ABS(CAST(x AS DOUBLE) - CAST(fq AS DOUBLE) / wq)
                   * {_Q119_EQ} + 0.5) AS BIGINT) AS eq_ses,
               CAST(ABS(x - prev_x) AS BIGINT) AS e_naive
        FROM kernel
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_weeks_scored,
           {sql_fround(f"CAST(SUM(eq_ses) AS DOUBLE) / {_Q119_EQ} / COUNT(*)", 4)}
               AS mae_ses,
           {sql_fround("CAST(SUM(e_naive) AS DOUBLE) / COUNT(*)", 4)}
               AS mae_naive,
           {sql_fround(
               f"CAST(SUM(eq_ses) AS DOUBLE) / {_Q119_EQ} / SUM(e_naive)", 6
           )} AS mae_ratio
    FROM errs GROUP BY brand
    """,
    doc=f"One-step-ahead exponential-smoothing forecast of weekly "
    f"brand demand, graded against the naive last-value forecaster "
    f"(alpha={Q119_ALPHA}): SES's recursion unrolls to the geometric "
    "kernel sum_j alpha(1-alpha)^(j-1) x_(t-j), truncated at "
    f"{Q119_LAGS} lags (<1e-5 of the mass) and injected into BOTH "
    "engines as the same 1e-9 integer weight literals, with per-row "
    "renormalization by the sum of USED weights so early weeks are "
    "exact — the trick that turns a sequential recursion into one "
    "bounded band join over the (brand, week-index) grid, "
    "shuffle-parallel where the textbook loop is not. MAE(SES)/"
    "MAE(naive) < 1 is the Hyndman-style skill score that justifies "
    "shipping the forecast into q103/q115/q118's policies; per-week "
    "absolute errors quantize to 1e-6 integers before the brand sum "
    "(order independence). Scale: the only data-sized stage is the "
    "(brand, week) rollup; the band self-join is grid x 32 rows, and "
    "the naive baseline rides the same join (the rn-1 term) — no "
    "second pass, no window over data grain.",
)
def q119_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    weekly = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li["l_partkey"] == p["p_partkey"],
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("x"))
    )
    seq = weekly.select(
        "brand",
        "x",
        F.row_number()
        .over(W.partitionBy("brand").orderBy("week"))
        .cast("bigint")
        .alias("rn"),
    )
    t = seq.select(
        F.col("brand"), F.col("x"), F.col("rn")
    )
    s = seq.select(
        F.col("brand").alias("_b"),
        F.col("x").alias("sx"),
        F.col("rn").alias("srn"),
    )
    warr = F.array(*[F.lit(v) for v in Q119_WQS])
    d = (F.col("rn") - F.col("srn")).cast("int")
    kernel = (
        t.join(
            s,
            (t["brand"] == s["_b"])
            & ((t["rn"] - s["srn"]) >= 1)
            & ((t["rn"] - s["srn"]) <= Q119_LAGS),
        )
        .groupBy("brand", "rn", "x")
        .agg(
            F.sum(F.col("sx") * F.element_at(warr, d)).cast("bigint").alias("fq"),
            F.sum(F.element_at(warr, d)).cast("bigint").alias("wq"),
            F.max(F.when(F.col("srn") == F.col("rn") - 1, F.col("sx"))).alias(
                "prev_x"
            ),
        )
    )
    eq_ses = F.floor(
        F.abs(F.col("x").cast("double") - F.col("fq").cast("double") / F.col("wq"))
        * _Q119_EQ
        + F.lit(0.5)
    ).cast("bigint")
    errs = kernel.select(
        "brand",
        eq_ses.alias("eq_ses"),
        F.abs(F.col("x") - F.col("prev_x")).cast("bigint").alias("e_naive"),
    )
    return errs.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks_scored"),
        fround(
            F.sum("eq_ses").cast("double") / _Q119_EQ / F.count(F.lit(1)), 4
        ).alias("mae_ses"),
        fround(F.sum("e_naive").cast("double") / F.count(F.lit(1)), 4).alias(
            "mae_naive"
        ),
        fround(
            F.sum("eq_ses").cast("double") / _Q119_EQ / F.sum("e_naive"), 6
        ).alias("mae_ratio"),
    )


# ---------------------------------------------------------------------------
# q120 — Brown–Forsythe variance-homogeneity test across market
# segments (round 10): the missing member of the distribution-
# comparison shelf — e37 (Kruskal–Wallis) compares LOCATIONS, q37/t37
# (KS) whole shapes; this tests whether SPREADS differ, median-based
# so heavy tails don't trigger it (the robust Levene variant)
# ---------------------------------------------------------------------------


@query(
    "q120_brown_forsythe",
    oracle="""
    WITH vals AS (
        SELECT c.c_mktsegment AS seg,
               CAST(FLOOR(o.o_totalprice) AS BIGINT) AS d
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (
        SELECT seg, d, CAST(COUNT(*) AS BIGINT) AS c
        FROM vals GROUP BY 1, 2
    ),
    cum AS (
        SELECT seg, d, c,
               SUM(c) OVER (PARTITION BY seg ORDER BY d) AS cum,
               SUM(c) OVER (PARTITION BY seg) AS n
        FROM cells
    ),
    med AS (
        SELECT seg, CAST(MAX(n) AS BIGINT) AS n_g,
               MIN(CASE WHEN 2 * cum >= n + 1 THEN d END) AS m
        FROM cum GROUP BY seg
    ),
    zs AS (
        SELECT c.seg, md.n_g,
               CAST(SUM(c.c * ABS(c.d - md.m)) AS BIGINT) AS s1,
               CAST(SUM(c.c * ABS(c.d - md.m) * ABS(c.d - md.m)) AS BIGINT)
                   AS s2
        FROM cells c JOIN med md ON md.seg = c.seg
        GROUP BY c.seg, md.n_g
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(s1) AS BIGINT) AS t1,
               SUM(CAST(s1 AS DOUBLE) * s1 / n_g) AS bsum,
               SUM(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_g)
                   AS wsum
        FROM zs
    )
    SELECT n AS n_orders, CAST(k AS INTEGER) AS n_groups,
           (FLOOR((bsum - CAST(t1 AS DOUBLE) * t1 / n)
               / wsum * (n - k) / (k - 1) * 1000000.0 + 0.5) / 1000000.0)
               AS f_bf
    FROM tot
    """,
    doc="Brown–Forsythe test (Brown & Forsythe 1974 — Levene's "
    "statistic with the MEDIAN as center) for equality of order-value "
    "spread across the 5 market segments: z_ij = |x_ij − median_g|, "
    "then the one-way ANOVA F on the z's. Median-centering is what "
    "makes it robust — with means, a single heavy tail reads as "
    "variance; with medians it does not, which is why every stats "
    "package defaults to this variant. Completes the group-comparison "
    "shelf: e37 ranks (location), q91 two-sample ranks, t37/q37 KS "
    "(shape), q120 spread. The per-segment median is the exact "
    "integer 2·cum ≥ n+1 fence on the (segment, DOLLAR-value) grid "
    "(the x15/q105 dollar-grid discipline — floor-to-dollar "
    "quantization is part of the statistic's definition here, stated "
    "rather than hidden), and Σz, Σz² are exact int64 cell rollups, "
    "so both engines assemble F from identical integers (at 100 TB "
    "the z² sums ride DECIMAL(38,0) partials). Scale: one fact join "
    "+ one grid rollup; windows walk the per-segment dollar grid; "
    "the F fold is 5 rows.",
)
def q120_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    vals = o.join(cu, o["o_custkey"] == cu["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("o_totalprice")).cast("bigint").alias("d"),
    )
    cells = vals.groupBy("seg", "d").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wcum = W.partitionBy("seg").orderBy("d")
    wall = W.partitionBy("seg")
    cum = cells.select(
        "seg",
        "d",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    med = cum.groupBy("seg").agg(
        F.max("n").cast("bigint").alias("n_g"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("n") + 1, F.col("d"))
        ).alias("m"),
    )
    z = F.abs(F.col("d") - F.col("m"))
    zs = (
        cells.join(F.broadcast(med), "seg")
        .groupBy("seg", "n_g")
        .agg(
            F.sum(F.col("c") * z).cast("bigint").alias("s1"),
            F.sum(F.col("c") * z * z).cast("bigint").alias("s2"),
        )
    )
    ds1 = F.col("s1").cast("double")
    tot = zs.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s1").cast("bigint").alias("t1"),
        F.sum(ds1 * F.col("s1") / F.col("n_g")).alias("bsum"),
        F.sum(F.col("s2").cast("double") - ds1 * F.col("s1") / F.col("n_g")).alias(
            "wsum"
        ),
    )
    f_bf = (
        F.floor(
            (F.col("bsum") - F.col("t1").cast("double") * F.col("t1") / F.col("n"))
            / F.col("wsum")
            * (F.col("n") - F.col("k"))
            / (F.col("k") - 1)
            * 1000000.0
            + F.lit(0.5)
        )
        / 1000000.0
    )
    return tot.select(
        F.col("n").alias("n_orders"),
        F.col("k").cast("int").alias("n_groups"),
        f_bf.alias("f_bf"),
    )


# ---------------------------------------------------------------------------
# q121 — ABC-XYZ inventory matrix (round 10): the two-axis
# classification every planning system starts from — ABC ranks brands
# by revenue CONTRIBUTION (q87's Pareto axis), XYZ by demand
# VARIABILITY (the q103/q118/q119 shelf's CV axis); the cell decides
# the policy (AX: automate; CZ: make-to-order)
# ---------------------------------------------------------------------------

Q121_A_PCT, Q121_B_PCT = 50, 80  # cumulative revenue fences (A <= 50 < B <= 80)
Q121_X_BP, Q121_Y_BP = 4300, 4700  # CV fences in basis points (X < .43 < Y < .47)


@query(
    "q121_abc_xyz",
    oracle=f"""
    WITH weekly AS (
        SELECT p.p_brand AS brand,
               CAST(DATE_TRUNC('week', l.l_shipdate) AS DATE) AS wk,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS x
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    cv AS (
        SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS q
        FROM weekly GROUP BY brand
    ),
    rev AS (
        SELECT p.p_brand AS brand,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    ),
    ranked AS (
        SELECT brand, cents,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, brand) AS BIGINT)
                   AS cum,
               CAST(SUM(cents) OVER () AS BIGINT) AS tot
        FROM rev
    ),
    abc AS (
        SELECT brand, cents, tot,
               CASE WHEN 100 * cum <= {Q121_A_PCT} * tot THEN 'A'
                    WHEN 100 * cum <= {Q121_B_PCT} * tot THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
    )
    SELECT a.brand, a.abc_class,
           CASE WHEN (CAST(c.n AS DOUBLE) * c.q - CAST(c.s AS DOUBLE) * c.s)
                     * 100000000.0
                     < {Q121_X_BP}.0 * {Q121_X_BP} * CAST(c.s AS DOUBLE) * c.s
                THEN 'X'
                WHEN (CAST(c.n AS DOUBLE) * c.q - CAST(c.s AS DOUBLE) * c.s)
                     * 100000000.0
                     < {Q121_Y_BP}.0 * {Q121_Y_BP} * CAST(c.s AS DOUBLE) * c.s
                THEN 'Y' ELSE 'Z' END AS xyz_class,
           {sql_fround(
               "SQRT(CAST(c.n AS DOUBLE) * c.q - CAST(c.s AS DOUBLE) * c.s)"
               " / c.s", 4
           )} AS demand_cv,
           {sql_fround("100.0 * a.cents / a.tot", 4)} AS revenue_pct
    FROM abc a JOIN cv c ON c.brand = a.brand
    """,
    doc="ABC-XYZ classification of the 25 brands — the two-axis matrix "
    "inventory planning starts from (Silver–Pyke–Peterson ch.2): ABC "
    f"ranks by cumulative revenue share (A <= {Q121_A_PCT}%, B <= "
    f"{Q121_B_PCT}% — q87's Pareto logic at brand grain, fences as "
    "exact integer cents comparisons 100·cum <= pct·total), XYZ by "
    "weekly-demand coefficient of variation (X/Y fences at "
    f"{Q121_X_BP}/{Q121_Y_BP} basis points; the class test is the "
    "VARIANCE inequality cross-multiplied — (nΣx²−(Σx)²)·10^8 < "
    "bp²·(Σx)² — evaluated on identical doubles from exact int64 "
    "moment sums, so the boundary can never flip between engines). "
    "The joint cell prescribes the policy: AX items get q119's "
    "forecast + q103's automated reorder; CZ items get q118's "
    "make-to-order newsvendor. Scale: two brand-grain rollups with "
    "map-side combine (broadcast part dim); ranking windows walk the "
    "25-row brand frame.",
)
def q121_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    weekly = j.groupBy(
        F.col("p_brand").alias("brand"),
        F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("wk"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("x"))
    cv = weekly.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    rev = j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.sum(cents).cast("bigint").alias("cents")
    )
    wrank = W.orderBy(F.col("cents").desc(), "brand").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # single-partition windows are intentional: input is the 25-row
    # brand revenue frame
    ranked = rev.select(
        "brand",
        "cents",
        F.sum("cents").over(wrank).cast("bigint").alias("cum"),
        F.sum("cents").over(W.orderBy(F.lit(1)).rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )).cast("bigint").alias("tot"),
    )
    abc = (
        F.when(100 * F.col("cum") <= Q121_A_PCT * F.col("tot"), "A")
        .when(100 * F.col("cum") <= Q121_B_PCT * F.col("tot"), "B")
        .otherwise("C")
    )
    var_num = (
        F.col("n").cast("double") * F.col("q")
        - F.col("s").cast("double") * F.col("s")
    )
    s2 = F.col("s").cast("double") * F.col("s")
    xyz = (
        F.when(var_num * 100000000.0 < float(Q121_X_BP) * Q121_X_BP * s2, "X")
        .when(var_num * 100000000.0 < float(Q121_Y_BP) * Q121_Y_BP * s2, "Y")
        .otherwise("Z")
    )
    return (
        ranked.select("brand", abc.alias("abc_class"), "cents", "tot")
        .join(cv, "brand")
        .select(
            "brand",
            "abc_class",
            xyz.alias("xyz_class"),
            fround(F.sqrt(var_num) / F.col("s"), 4).alias("demand_cv"),
            fround(F.lit(100.0) * F.col("cents") / F.col("tot"), 4).alias(
                "revenue_pct"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q122 — Syntetos–Boylan demand-pattern quadrant (round 10): BEFORE
# picking a forecaster (q119's SES vs Croston-class methods) a planner
# classifies each item's demand PATTERN — ADI (how often) x CV²
# (how variable when it happens); the quadrant names the method
# ---------------------------------------------------------------------------

Q122_ADI_C = 132  # ADI cutoff 1.32 (x100, exact-integer compare)
Q122_CV2_C = 49  # CV^2 cutoff 0.49 (x100)


@query(
    "q122_intermittency_profile",
    oracle=f"""
    WITH daily AS (
        SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS d,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
        FROM lineitem GROUP BY 1, 2
    ),
    per AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(date_diff('day', MIN(d), MAX(d)) AS BIGINT) AS span,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS q
        FROM daily GROUP BY pk
    ),
    cls AS (
        SELECT CASE WHEN 100 * span < {Q122_ADI_C} * (n - 1) THEN
                    CASE WHEN 100.0 * (CAST(n AS DOUBLE) * q
                              - CAST(s AS DOUBLE) * s)
                              < {Q122_CV2_C}.0 * CAST(s AS DOUBLE) * s
                         THEN 'smooth' ELSE 'erratic' END
               ELSE
                    CASE WHEN 100.0 * (CAST(n AS DOUBLE) * q
                              - CAST(s AS DOUBLE) * s)
                              < {Q122_CV2_C}.0 * CAST(s AS DOUBLE) * s
                         THEN 'intermittent' ELSE 'lumpy' END
               END AS pattern,
               CAST(FLOOR(CAST(span AS DOUBLE) / (n - 1)
                   * 1000000.0 + 0.5) AS BIGINT) AS adi_q,
               CAST(FLOOR((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                   / (CAST(s AS DOUBLE) * s)
                   * 1000000.0 + 0.5) AS BIGINT) AS cv2_q
        FROM per WHERE n >= 2
    )
    SELECT pattern,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           {sql_fround("CAST(SUM(adi_q) AS DOUBLE) / 1000000.0 / COUNT(*)", 4)}
               AS avg_adi,
           {sql_fround("CAST(SUM(cv2_q) AS DOUBLE) / 1000000.0 / COUNT(*)", 4)}
               AS avg_cv2
    FROM cls GROUP BY pattern
    """,
    doc="Syntetos–Boylan demand-pattern quadrant per part (Syntetos, "
    "Boylan & Croston 2005): Average Demand Interval = span/(n−1) "
    "over the part's demand DAYS crossed with CV² of demand sizes on "
    "those days, cut at the canonical (1.32, 0.49) — smooth / "
    "erratic / intermittent / lumpy, the classification that decides "
    "WHICH forecaster an item gets (smooth → q119's SES; "
    "intermittent/lumpy → Croston-class interval methods; the reason "
    "this readout precedes the forecast, not follows it). Both "
    "cutoffs are exact-integer/identical-double comparisons "
    "(100·span < 132·(n−1); 100·(nΣx²−(Σx)²) < 49·(Σx)²) from int64 "
    "day-grain rollups, so no part can change class between engines. "
    "On this corpus every part is high-ADI (~84 days between orders) "
    "— the quadrant reads intermittent/lumpy only, which is exactly "
    "the fact that justifies the empirical-grid policies (q103/q118) "
    "over normal-theory ones. AVG of per-part ratios is the one "
    "float aggregate; both engines sum identical doubles over the "
    "same GROUP BY partitions at 4dp rounding tolerance-free "
    "because each ratio is a deterministic double of exact ints and "
    "the class populations are disjoint. Scale: one (part, day) "
    "rollup with map-side combine, one part rollup, 4-row output.",
)
def q122_intermittency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.col("l_shipdate").cast("date").alias("d"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("x"))
    per = daily.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.datediff(F.max("d"), F.min("d")).cast("bigint").alias("span"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    var_num = (
        F.col("n").cast("double") * F.col("q")
        - F.col("s").cast("double") * F.col("s")
    )
    s2 = F.col("s").cast("double") * F.col("s")
    low_cv2 = 100.0 * var_num < float(Q122_CV2_C) * s2
    low_adi = 100 * F.col("span") < Q122_ADI_C * (F.col("n") - 1)
    pattern = F.when(
        low_adi, F.when(low_cv2, "smooth").otherwise("erratic")
    ).otherwise(F.when(low_cv2, "intermittent").otherwise("lumpy"))
    # per-part ratios quantize to 1e-6 BIGINTs before the class sum
    # (t51 discipline: float addition order can never flip the hash)
    cls = per.filter(F.col("n") >= 2).select(
        pattern.alias("pattern"),
        F.floor(
            F.col("span").cast("double") / (F.col("n") - 1) * 1000000.0
            + F.lit(0.5)
        ).cast("bigint").alias("adi_q"),
        F.floor(var_num / s2 * 1000000.0 + F.lit(0.5)).cast("bigint").alias(
            "cv2_q"
        ),
    )
    return cls.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        fround(
            F.sum("adi_q").cast("double") / 1000000.0 / F.count(F.lit(1)), 4
        ).alias("avg_adi"),
        fround(
            F.sum("cv2_q").cast("double") / 1000000.0 / F.count(F.lit(1)), 4
        ).alias("avg_cv2"),
    )


# ---------------------------------------------------------------------------
# q123 — seasonal Mann–Kendall (Hirsch–Slack) on monthly revenue
# (round 10): q112 tests the raw daily series, where seasonality reads
# as noise; the seasonal variant compares each calendar month ONLY
# with the same month of other years, so an annual cycle can neither
# mask nor fake a trend
# ---------------------------------------------------------------------------


@query(
    "q123_seasonal_mann_kendall",
    oracle="""
    WITH monthly AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
               CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) // 100 AS x
        FROM orders GROUP BY 1, 2
    ),
    per_block AS (
        SELECT a.mo,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM monthly a JOIN monthly b ON b.mo = a.mo AND b.yr > a.yr
        GROUP BY a.mo
    ),
    blocks AS (
        SELECT mo, CAST(COUNT(*) AS BIGINT) AS n_b FROM monthly GROUP BY mo
    ),
    agg AS (
        SELECT CAST(SUM(p.s_b) AS BIGINT) AS s_tot,
               CAST(SUM(b.n_b * (b.n_b - 1) * (2 * b.n_b + 5)) AS BIGINT)
                   AS v18,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(b.n_b) AS BIGINT) AS n_months
        FROM per_block p JOIN blocks b ON b.mo = p.mo
    )
    SELECT n_months, CAST(n_blocks AS INTEGER) AS n_blocks, s_tot,
           CAST(v18 AS DOUBLE) / 18.0 AS var_s,
           (FLOOR((CASE WHEN s_tot > 0 THEN CAST(s_tot - 1 AS DOUBLE)
                        WHEN s_tot < 0 THEN CAST(s_tot + 1 AS DOUBLE)
                        ELSE 0.0 END / SQRT(CAST(v18 AS DOUBLE) / 18.0))
               * 1000000.0 + 0.5) / 1000000.0) AS z,
           CASE WHEN CASE WHEN s_tot > 0 THEN CAST(s_tot - 1 AS DOUBLE)
                          WHEN s_tot < 0 THEN CAST(s_tot + 1 AS DOUBLE)
                          ELSE 0.0 END / SQRT(CAST(v18 AS DOUBLE) / 18.0)
                     > 1.96 THEN 'increasing'
                WHEN CASE WHEN s_tot > 0 THEN CAST(s_tot - 1 AS DOUBLE)
                          WHEN s_tot < 0 THEN CAST(s_tot + 1 AS DOUBLE)
                          ELSE 0.0 END / SQRT(CAST(v18 AS DOUBLE) / 18.0)
                     < -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM agg
    """,
    doc="Seasonal Mann–Kendall trend test (Hirsch & Slack 1984 — the "
    "variant hydrology standardized for cyclic series): within each "
    "calendar-month block, S_m sums sign(x_j − x_i) over same-month "
    "year pairs only; S = ΣS_m, Var(S) = Σ n_m(n_m−1)(2n_m+5)/18 "
    "(blocks independent under H0; monthly totals here are tie-free "
    "by construction, cents-exact), continuity-corrected z as in "
    "q112. Cross-month comparisons — the ones an annual cycle "
    "corrupts — never enter, which is why this variant exists: q112 "
    "on a seasonal series inflates variance and buries real drift. "
    "Revenue folds to the ~84-cell (year, month) grid with map-side "
    "combine; the same-month pair join is 12 blocks × ~21 pairs — "
    "constant work after the rollup, all exact integers until the "
    "final z division. Completes the trend shelf: q77 slope, q112 "
    "raw-series test, q113 randomness screen, q123 seasonal test.",
)
def q123_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            " div 100"
        ).alias("x")
    )
    a = monthly.select(
        F.col("mo"), F.col("yr").alias("ya"), F.col("x").alias("xa")
    )
    b = monthly.select(
        F.col("mo").alias("_mo"), F.col("yr").alias("yb"), F.col("x").alias("xb")
    )
    per_block = (
        a.join(b, (a["mo"] == b["_mo"]) & (b["yb"] > a["ya"]))
        .groupBy("mo")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_b")
        )
    )
    blocks = monthly.groupBy("mo").agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    agg = (
        per_block.join(blocks, "mo")
        .agg(
            F.sum("s_b").cast("bigint").alias("s_tot"),
            F.sum(
                F.col("n_b") * (F.col("n_b") - 1) * (2 * F.col("n_b") + 5)
            )
            .cast("bigint")
            .alias("v18"),
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum("n_b").cast("bigint").alias("n_months"),
        )
    )
    var_s = F.col("v18").cast("double") / 18.0
    zc = (
        F.when(F.col("s_tot") > 0, (F.col("s_tot") - 1).cast("double"))
        .when(F.col("s_tot") < 0, (F.col("s_tot") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    ) / F.sqrt(var_s)
    return agg.select(
        "n_months",
        F.col("n_blocks").cast("int").alias("n_blocks"),
        "s_tot",
        var_s.alias("var_s"),
        (F.floor(zc * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("z"),
        F.when(zc > 1.96, "increasing")
        .when(zc < -1.96, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# q124 — Shewhart X-bar / R control chart on daily order counts with
# weekly subgroups (round 10): the SPC readout — q98's MAD screen asks
# "which days are weird?"; a control chart asks "is the PROCESS in
# control?", with limits derived from within-subgroup range (the
# short-term voice of the process), not total variance
# ---------------------------------------------------------------------------

# Shewhart constants for subgroup size n=7 (ASTM E2587 / Montgomery
# table VI): injected as the SAME literals into both engines
Q124_D2 = 2.704  # E[R]/sigma for n=7
Q124_A2 = 0.419  # 3/(d2*sqrt(7)) rounded per the standard table
Q124_D3 = 0.076  # lower R-chart factor
Q124_D4 = 1.924  # upper R-chart factor


@query(
    "q124_xbar_control_chart",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    sub AS (
        SELECT CAST(DATE_TRUNC('week', day) AS DATE) AS wk,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(MAX(x) - MIN(x) AS BIGINT) AS r
        FROM daily GROUP BY 1
    ),
    full7 AS (SELECT * FROM sub WHERE n = 7),
    lim AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(s) AS BIGINT) AS ss,
               CAST(SUM(r) AS BIGINT) AS sr
        FROM full7
    ),
    graded AS (
        SELECT f.wk, f.s, f.r, l.k, l.ss, l.sr,
               CAST(l.ss AS DOUBLE) / l.k / 7.0 AS xbar,
               CAST(l.sr AS DOUBLE) / l.k AS rbar
        FROM full7 f CROSS JOIN lim l
    )
    SELECT CAST(MAX(k) AS BIGINT) AS n_subgroups,
           {sql_fround("MAX(xbar)", 4)} AS center,
           {sql_fround(f"MAX(xbar + {Q124_A2} * rbar)", 4)} AS ucl_x,
           {sql_fround(f"MAX(xbar - {Q124_A2} * rbar)", 4)} AS lcl_x,
           {sql_fround(f"MAX({Q124_D4} * rbar)", 4)} AS ucl_r,
           CAST(SUM(CASE WHEN CAST(s AS DOUBLE) / 7.0
                    > xbar + {Q124_A2} * rbar
                    OR CAST(s AS DOUBLE) / 7.0
                    < xbar - {Q124_A2} * rbar THEN 1 ELSE 0 END) AS BIGINT)
               AS n_xbar_violations,
           CAST(SUM(CASE WHEN CAST(r AS DOUBLE) > {Q124_D4} * rbar
                    OR CAST(r AS DOUBLE) < {Q124_D3} * rbar
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_range_violations
    FROM graded
    """,
    doc="Shewhart X-bar / R control chart on daily order volume with "
    "calendar-week subgroups of 7 (Shewhart 1931; constants d2/A2/"
    "D3/D4 for n=7 from the standard SPC tables, injected as "
    "IDENTICAL literals into both engines): center = grand mean of "
    "full weeks, limits = xbar ± A2·Rbar and [D3, D4]·Rbar — "
    "control limits from the WITHIN-week range, the short-term "
    "process voice, which is the entire point of Shewhart charting "
    "(a trend inflates total variance but not within-subgroup "
    "range, so drifting processes alarm instead of widening their "
    "own limits). Violations counted for both charts; partial weeks "
    "are excluded (n=7 exactly) so every subgroup range is "
    "comparable. All aggregates are exact integers — s, r, ΣR are "
    "int64; the constants multiply identical doubles — so violation "
    "counts can never differ between engines. Complements q98 "
    "(MAD residual screen — outlier DAYS) and q111 (Page–Hinkley — "
    "drift ALARM) as the capability/process-control member. Scale: "
    "one daily rollup with map-side combine; everything after walks "
    "the ~350-row week grid.",
)
def q124_xbar_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    sub = daily.groupBy(
        F.date_trunc("week", F.col("day")).cast("date").alias("wk")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        (F.max("x") - F.min("x")).cast("bigint").alias("r"),
    )
    full7 = sub.filter(F.col("n") == 7)
    lim = full7.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s").cast("bigint").alias("ss"),
        F.sum("r").cast("bigint").alias("sr"),
    )
    xbar = F.col("ss").cast("double") / F.col("k") / 7.0
    rbar = F.col("sr").cast("double") / F.col("k")
    graded = full7.crossJoin(F.broadcast(lim)).select(
        "s",
        "r",
        "k",
        xbar.alias("xbar"),
        rbar.alias("rbar"),
    )
    mean7 = F.col("s").cast("double") / 7.0
    return graded.agg(
        F.max("k").cast("bigint").alias("n_subgroups"),
        fround(F.max("xbar"), 4).alias("center"),
        fround(F.max(F.col("xbar") + Q124_A2 * F.col("rbar")), 4).alias("ucl_x"),
        fround(F.max(F.col("xbar") - Q124_A2 * F.col("rbar")), 4).alias("lcl_x"),
        fround(F.max(Q124_D4 * F.col("rbar")), 4).alias("ucl_r"),
        F.sum(
            F.when(
                (mean7 > F.col("xbar") + Q124_A2 * F.col("rbar"))
                | (mean7 < F.col("xbar") - Q124_A2 * F.col("rbar")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_xbar_violations"),
        F.sum(
            F.when(
                (F.col("r").cast("double") > Q124_D4 * F.col("rbar"))
                | (F.col("r").cast("double") < Q124_D3 * F.col("rbar")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_range_violations"),
    )



# ---------------------------------------------------------------------------
# q125 — Benford second-digit audit (round 11): q73's forensic screen
# one digit deeper, where crude fabrication models usually break first
# ---------------------------------------------------------------------------

# P(d2) = sum_{d1=1..9} log10(1 + 1/(10*d1 + d2)) — SHARED plan literals
# (computed once, embedded identically on both engines so no engine's
# log/sum order can differ; the q77/m12 shared-literal discipline)
_Q125_P = (
    "0.11967926859688073",
    "0.1138901034075564",
    "0.10882149900550823",
    "0.10432956023095939",
    "0.10030820226757937",
    "0.09667723580232243",
    "0.09337473578303615",
    "0.09035198926960332",
    "0.08757005357886138",
    "0.08499735205769224",
)
_Q125_SQL_P = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in enumerate(_Q125_P))
    + " END"
)


@query(
    "q125_benford_second_digit",
    oracle=f"""
    WITH d AS (
        SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 2, 1) AS INTEGER) AS digit
        FROM orders
        WHERE o_totalprice > 0
          AND LENGTH(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                     AS VARCHAR)) >= 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM d)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_fround("CAST(COUNT(*) AS DOUBLE) / (SELECT n_all FROM tot)", 6)}
             AS obs_freq,
           {sql_fround(_Q125_SQL_P, 6)} AS benford_freq,
           {sql_fround(
               "POWER(CAST(COUNT(*) AS DOUBLE) / (SELECT n_all FROM tot)"
               f" - ({_Q125_SQL_P}), 2) / ({_Q125_SQL_P})", 6)} AS chi2_term
    FROM d GROUP BY digit
    """,
    doc="Benford's-law SECOND-digit audit of order totals — the digit "
    "forensic accountants check after the first (Nigrini 1996): crude "
    "fabrication that fakes a plausible first-digit profile almost "
    "never reproduces the second-digit law P(d2) = sum over d1 of "
    "log10(1 + 1/(10*d1 + d2)), which is much flatter (0.120 at 0 "
    "down to 0.085 at 9) and so needs the larger sample this fact "
    "table has. The second significant digit is read from the EXACT "
    "cents integer rendered as a string (q73's no-log10-of-double "
    "rule); the ten expected frequencies are SHARED plan literals "
    "computed once and embedded identically on both engines, so no "
    "per-engine ln summation order exists at all. One narrow "
    "projection + one 10-group aggregate: a single scan at any "
    "volume, the q73 scale shape exactly.",
)
def q125_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string")
    d = (
        o.select(cents.alias("_c"))
        .filter(F.length("_c") >= 2)
        .select(F.substring("_c", 2, 1).cast("int").alias("digit"))
    )
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    bf = F.element_at(
        F.array(*[F.lit(float(p)) for p in _Q125_P]), F.col("digit") + 1
    )
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            fround(F.col("n").cast("double") / F.col("n_all"), 6).alias("obs_freq"),
            fround(bf, 6).alias("benford_freq"),
            fround(
                F.pow(F.col("n").cast("double") / F.col("n_all") - bf, F.lit(2.0))
                / bf,
                6,
            ).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------------
# q127 — Croston intermittent-demand forecast (round 11): q119's SES
# kernel applied the way sparse demand actually requires — to sizes and
# intervals separately (Croston 1972)
# ---------------------------------------------------------------------------


@query(
    "q127_croston_forecast",
    oracle=f"""
    WITH daily AS (
        SELECT p.p_brand AS brand,
               datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
                   AS didx,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS z
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    occ AS (
        SELECT brand, didx, z,
               CAST(ROW_NUMBER() OVER (PARTITION BY brand ORDER BY didx)
                   AS BIGINT) AS rn,
               CAST(didx - LAG(didx) OVER (PARTITION BY brand ORDER BY didx)
                   AS BIGINT) AS p
        FROM daily WHERE z > 0
    ),
    kernel AS (
        SELECT t.brand, t.rn, t.z, t.p,
               CAST(SUM(s.z * ({_Q119_WQ_SQL})[CAST(t.rn - s.rn AS INTEGER)])
                   AS BIGINT) AS fqz,
               CAST(SUM(({_Q119_WQ_SQL})[CAST(t.rn - s.rn AS INTEGER)])
                   AS BIGINT) AS wqz,
               CAST(SUM(CASE WHEN s.p IS NOT NULL THEN s.p
                   * ({_Q119_WQ_SQL})[CAST(t.rn - s.rn AS INTEGER)] END)
                   AS BIGINT) AS fqp,
               CAST(SUM(CASE WHEN s.p IS NOT NULL THEN
                   ({_Q119_WQ_SQL})[CAST(t.rn - s.rn AS INTEGER)] END)
                   AS BIGINT) AS wqp,
               MAX(CASE WHEN s.rn = t.rn - 1 THEN s.z END) AS prev_z,
               MAX(CASE WHEN s.rn = t.rn - 1 THEN s.p END) AS prev_p
        FROM occ t JOIN occ s
          ON s.brand = t.brand
         AND t.rn - s.rn BETWEEN 1 AND {Q119_LAGS}
        WHERE t.rn >= 3
        GROUP BY t.brand, t.rn, t.z, t.p
    ),
    errs AS (
        SELECT brand,
               CAST(FLOOR(ABS(
                   (CAST(fqz AS DOUBLE) / wqz) / (CAST(fqp AS DOUBLE) / wqp)
                   - CAST(z AS DOUBLE) / p) * {_Q119_EQ} + 0.5) AS BIGINT)
                   AS eq_croston,
               CAST(FLOOR(ABS(
                   CAST(prev_z AS DOUBLE) / prev_p
                   - CAST(z AS DOUBLE) / p) * {_Q119_EQ} + 0.5) AS BIGINT)
                   AS eq_naive
        FROM kernel WHERE wqp IS NOT NULL AND prev_p IS NOT NULL
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           {sql_fround(f"CAST(SUM(eq_croston) AS DOUBLE) / {_Q119_EQ} / COUNT(*)", 4)}
               AS mae_croston,
           {sql_fround(f"CAST(SUM(eq_naive) AS DOUBLE) / {_Q119_EQ} / COUNT(*)", 4)}
               AS mae_naive,
           {sql_fround("CAST(SUM(eq_croston) AS DOUBLE) / SUM(eq_naive)", 6)}
               AS mae_ratio
    FROM errs GROUP BY brand
    """,
    doc=f"Croston's method (1972) for intermittent demand, per brand: "
    "SES smooths demand SIZES and inter-demand INTERVALS as two "
    "separate series at demand-occurrence grain, and the demand-rate "
    "forecast is their ratio — the estimator q122's intermittency "
    "profile exists to justify (plain SES over a zero-inflated daily "
    "series chases zeros; Croston's split is the standard fix "
    "inventory systems ship). Both recursions unroll to q119's "
    f"truncated geometric kernel (the SAME {Q119_LAGS} integer weight "
    "literals injected into both engines, per-row renormalized by "
    "used weights), so the sequential textbook loop becomes ONE "
    "bounded band self-join over the occurrence grid carrying both "
    "series — sizes always, intervals masked where undefined (the "
    "first occurrence has no gap). Graded one-step-ahead against the "
    "naive previous-rate forecaster; per-occurrence absolute errors "
    "quantize to 1e-6 integers before the brand sum. Scale: the only "
    "data-sized stage is the (brand, day) rollup; occurrences are a "
    "filtered projection of it, the band join is grid x 32, and both "
    "kernel sums ride one join — no second pass.",
)
def q127_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    daily = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li["l_partkey"] == p["p_partkey"],
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("didx"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("z"))
    )
    # r12 (guide §2.4): the occurrence frame feeds BOTH sides of the
    # lag-kernel self-join — un-materialized, the 600k-row join +
    # daily rollup + window ran twice per run. Scratch-tier build
    # (brand × active-day grain, small).
    def build_occ(daily: DataFrame) -> DataFrame:
        wb = W.partitionBy("brand").orderBy("didx")
        return daily.filter(F.col("z") > 0).select(
            "brand",
            "z",
            F.row_number().over(wb).cast("bigint").alias("rn"),
            (F.col("didx") - F.lag("didx").over(wb)).cast("bigint").alias("p"),
        )

    occ = tier(build_occ, daily)
    t = occ.select("brand", "z", "rn", "p")
    s = occ.select(
        F.col("brand").alias("_b"),
        F.col("z").alias("sz"),
        F.col("rn").alias("srn"),
        F.col("p").alias("sp"),
    )
    warr = F.array(*[F.lit(v) for v in Q119_WQS])
    wgt = F.element_at(warr, (F.col("rn") - F.col("srn")).cast("int"))
    kernel = (
        t.filter(F.col("rn") >= 3)
        .join(
            s,
            (t["brand"] == s["_b"])
            & ((t["rn"] - s["srn"]) >= 1)
            & ((t["rn"] - s["srn"]) <= Q119_LAGS),
        )
        .groupBy("brand", "rn", "z", "p")
        .agg(
            F.sum(F.col("sz") * wgt).cast("bigint").alias("fqz"),
            F.sum(wgt).cast("bigint").alias("wqz"),
            F.sum(F.when(F.col("sp").isNotNull(), F.col("sp") * wgt))
            .cast("bigint")
            .alias("fqp"),
            F.sum(F.when(F.col("sp").isNotNull(), wgt))
            .cast("bigint")
            .alias("wqp"),
            F.max(F.when(F.col("srn") == F.col("rn") - 1, F.col("sz"))).alias(
                "prev_z"
            ),
            F.max(F.when(F.col("srn") == F.col("rn") - 1, F.col("sp"))).alias(
                "prev_p"
            ),
        )
    )
    rate = (F.col("fqz").cast("double") / F.col("wqz")) / (
        F.col("fqp").cast("double") / F.col("wqp")
    )
    actual = F.col("z").cast("double") / F.col("p")
    naive = F.col("prev_z").cast("double") / F.col("prev_p")
    errs = kernel.filter(
        F.col("wqp").isNotNull() & F.col("prev_p").isNotNull()
    ).select(
        "brand",
        F.floor(F.abs(rate - actual) * _Q119_EQ + 0.5).cast("bigint").alias("eq_c"),
        F.floor(F.abs(naive - actual) * _Q119_EQ + 0.5).cast("bigint").alias("eq_n"),
    )
    return errs.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        fround(
            F.sum("eq_c").cast("double") / _Q119_EQ / F.count(F.lit(1)), 4
        ).alias("mae_croston"),
        fround(
            F.sum("eq_n").cast("double") / _Q119_EQ / F.count(F.lit(1)), 4
        ).alias("mae_naive"),
        fround(F.sum("eq_c").cast("double") / F.sum("eq_n"), 6).alias("mae_ratio"),
    )
