"""Text-analysis plans, statistical shelf (t49-t76 + d20): vocabulary
growth / richness laws, divergence and drift screens, LM scoring (BPE,
Kneser-Ney, perplexity), keyword extraction, dedup waterfall audits and
the winnowing pair stage. Split from plans/text.py in round 11 (VERDICT
r10 #8 - file-size hygiene); registry names are unchanged, and the
shared tokenizer/oracle constants stay in plans.text (imported below)
so both halves keep the identical engine-portable shapes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frames import tier
from ..functions import text as X
from ..sources.tables import load_table
from .money import fround, sql_fround
from .registry import QUERIES, query
from .text import (
    _DUCK_TOKS,
    _SQL_STOPS,
    _SQL_T23_SCORED,
    _T47_LN2,
    _T47_Q,
    _bigram_doc_bits,
    t06_quality_score,
)



# ---------------------------------------------------------------------------
# t49 — boilerplate prefix detection (round 7)
# ---------------------------------------------------------------------------

_T49_PLEN = 5  # fingerprint: the document's first 5 tokens
_T49_MIN_SHARE = 0.02  # a prefix owning >=2% of a source is boilerplate


@query(
    "t49_boilerplate_prefixes",
    oracle=f"""
    WITH t AS (SELECT source, {_DUCK_TOKS} AS toks FROM documents),
    pre AS (
        SELECT source,
               list_aggregate(toks[1:{_T49_PLEN}], 'string_agg', ' ') AS prefix
        FROM t WHERE len(toks) >= {_T49_PLEN}
    ),
    n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM pre GROUP BY source),
    c AS (
        SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_with
        FROM pre GROUP BY source, prefix
    )
    SELECT c.source, c.prefix, n_with, n_docs,
           {sql_fround("CAST(n_with AS DOUBLE) / n_docs", 6)} AS share
    FROM c JOIN n ON c.source = n.source
    WHERE CAST(n_with AS DOUBLE) / n_docs >= {_T49_MIN_SHARE}
    """,
    doc=f"Boilerplate-prefix detection: documents sharing their first "
    f"{_T49_PLEN} tokens within a source, reported when one prefix "
    f"owns >= {int(_T49_MIN_SHARE * 100)}% of the source — the "
    "template/header screen (C4-style cleaning strips repeated "
    "leading boilerplate; a crawler that prepends a cookie banner or "
    "nav header to every page lights this up) run before span-level "
    "dedup pays for what a cheap prefix groupBy already finds. The "
    "prefix key is an exact token join, not a hash, so the whole "
    "report is engine-identical. Scale: one narrow map (array slice "
    "+ join to string) and two keyed aggregates — the prefix space "
    "is df-bounded by construction (at most one per document), and "
    "the share filter prunes the long tail before the join back to "
    "source totals (broadcast, source-count-sized).",
)
def t49_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))
    pre = d.select(
        "source",
        F.array_join(F.slice(tk, 1, _T49_PLEN), " ").alias("prefix"),
    ).filter(F.size(tk) >= _T49_PLEN)
    n = pre.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    c = pre.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_with")
    )
    share = F.col("n_with").cast("double") / F.col("n_docs")
    return (
        c.join(F.broadcast(n), "source")
        .filter(share >= _T49_MIN_SHARE)
        .select("source", "prefix", "n_with", "n_docs", fround(share, 6).alias("share"))
    )


# ---------------------------------------------------------------------------
# t50 — vocabulary coverage curve (round 7)
# ---------------------------------------------------------------------------

_T50_KS = (1, 2, 4, 8, 16, 32, 64, 128)  # type-budget checkpoints


@query(
    "t50_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
    r AS (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk,
               SUM(cnt) OVER (ORDER BY cnt DESC, tok
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(cnt) OVER () AS tot,
               COUNT(*) OVER () AS n_types
        FROM c
    )
    SELECT CAST(k.k AS BIGINT) AS top_k_types,
           CAST(MAX(CASE WHEN rnk <= k.k THEN cum END) AS BIGINT)
               AS covered_tokens,
           CAST(MAX(tot) AS BIGINT) AS total_tokens,
           {sql_fround(
               "CAST(MAX(CASE WHEN rnk <= k.k THEN cum END) AS DOUBLE) / MAX(tot)",
               6,
           )} AS coverage
    FROM r CROSS JOIN (SELECT unnest(ARRAY{list(_T50_KS)}) AS k) k
    WHERE k.k <= n_types
    GROUP BY k.k
    """,
    doc="Vocabulary coverage curve: what fraction of the token stream "
    f"do the top-k most frequent types cover, at k ∈ {_T50_KS} — the "
    "Zipf-mass readout that sizes a tokenizer's vocabulary budget "
    "(t35 fits the exponent; this reports the actual mass curve a "
    "vocab cut keeps) and flags a template-closed corpus (coverage "
    "hits 1.0 at tiny k, cf. t44's Heaps β≈0). Deterministic via the "
    "(count DESC, token) total order shared by both engines; "
    "checkpoints beyond the type count are dropped on both sides. "
    "Scale: one token-count shuffle; the ranking window runs over the "
    "TYPE table (vocab-sized, not corpus-sized) and at web scale the "
    "same curve reads off a count-histogram rollup instead of a "
    "global sort — the x08 move.",
)
def t50_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    ww = W.orderBy(F.col("cnt").desc(), "tok")
    r = c.select(
        "cnt",
        F.row_number().over(ww).alias("rnk"),
        F.sum("cnt").over(ww.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("tot"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n_types"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _T50_KS])).alias("k")
    )
    return (
        r.select("rnk", "cum", "tot", "n_types")
        .crossJoin(F.broadcast(ks))
        .filter(F.col("k") <= F.col("n_types"))
        .groupBy(F.col("k").cast("bigint").alias("top_k_types"))
        .agg(
            F.max(F.when(F.col("rnk") <= F.col("k"), F.col("cum")))
            .cast("bigint")
            .alias("covered_tokens"),
            F.max("tot").cast("bigint").alias("total_tokens"),
            fround(
                F.max(F.when(F.col("rnk") <= F.col("k"), F.col("cum"))).cast("double")
                / F.max("tot"),
                6,
            ).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# t51 — per-source unigram entropy (round 7; the mixture-diversity dial)
# ---------------------------------------------------------------------------

_T51_Q = 1_000_000_000.0  # 1e-9 quantization of -p·ln p terms (t21 pattern)


@query(
    "t51_token_entropy",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    c AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY source, tok
    ),
    t AS (
        SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM c GROUP BY source
    ),
    q AS (
        SELECT c.source,
               CAST(SUM(CAST(FLOOR(
                   -(CAST(cnt AS DOUBLE) / tot)
                   * ln(CAST(cnt AS DOUBLE) / tot) * {_T51_Q} + 0.5
               ) AS BIGINT)) AS BIGINT) AS qh
        FROM c JOIN t ON c.source = t.source
        GROUP BY c.source
    )
    SELECT t.source, tot AS n_tokens, vocab,
           {sql_fround(f"CAST(qh AS DOUBLE) / {_T51_Q}", 6)} AS entropy_nats,
           {sql_fround(f"CAST(qh AS DOUBLE) / {_T51_Q} / ln(CAST(vocab AS DOUBLE))", 6)}
               AS norm_entropy
    FROM t JOIN q ON t.source = q.source
    """,
    doc="Per-source unigram Shannon entropy — the diversity dial a "
    "training-mixture designer reads next to size (low-entropy "
    "sources are templated/repetitive and deserve down-weighting; "
    "t47's JS divergence says how sources DIFFER, this says how much "
    "each source varies internally) — plus the vocab-normalized "
    "entropy H/ln(V) in [0,1] that compares sources of different "
    "vocabulary sizes. Every -p·ln p term is quantized to a 1e-9 "
    "BIGINT before the per-source sum (t21/t47 discipline: addition "
    "order can never flip the hash; p is an exact integer ratio), so "
    "the reported nats are engine-identical. Scale: one (source, "
    "token) count shuffle + one source rollup — Heaps'-law-safe, no "
    "vocab broadcast, no densified grid; the totals join is on the "
    "count table's own grain.",
)
def t51_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    t = c.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    p = F.col("cnt").cast("double") / F.col("tot")
    q_term = F.floor(-p * F.log(p) * _T51_Q + 0.5).cast("bigint")
    q = (
        c.join(t.select("source", "tot"), "source")
        .select("source", q_term.alias("qt"))
        .groupBy("source")
        .agg(F.sum("qt").cast("bigint").alias("qh"))
    )
    h = F.col("qh").cast("double") / _T51_Q
    return t.join(q, "source").select(
        "source",
        F.col("tot").alias("n_tokens"),
        "vocab",
        fround(h, 6).alias("entropy_nats"),
        fround(h / F.log(F.col("vocab").cast("double")), 6).alias("norm_entropy"),
    )


# ---------------------------------------------------------------------------
# t52 — per-source Simpson diversity (round 7; the exact-rational twin of
# t51's entropy: order-2 Renyi diversity with NO transcendental anywhere)
# ---------------------------------------------------------------------------


@query(
    "t52_simpson_diversity",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    c AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY source, tok
    ),
    t AS (
        SELECT source,
               CAST(SUM(cnt) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS coll
        FROM c GROUP BY source
    )
    SELECT source, tot AS n_tokens, vocab,
           {sql_fround(
               "CAST(coll AS DOUBLE) / (CAST(tot AS DOUBLE) * (tot - 1))", 6
           )} AS simpson_lambda,
           {sql_fround(
               "1.0 - CAST(coll AS DOUBLE) / (CAST(tot AS DOUBLE) * (tot - 1))", 6
           )} AS gini_simpson,
           {sql_fround(
               "(CAST(tot AS DOUBLE) * (tot - 1)) / coll", 4
           )} AS effective_vocab
    FROM t
    """,
    doc="Per-source Simpson diversity — the probability two tokens drawn "
    "WITHOUT replacement from a source are the same type (unbiased "
    "collision estimator sum c(c-1)/(N(N-1)), Simpson 1949), its "
    "Gini-Simpson complement, and the inverse-Simpson 'effective "
    "vocabulary' (order-2 Renyi / Hill number: how many equally-common "
    "types would give the same collision rate). Reads next to t51's "
    "Shannon entropy as the heavy-tail-sensitive diversity dial — a "
    "source whose effective_vocab is tiny next to its vocab is "
    "dominated by a few boilerplate tokens even if raw entropy looks "
    "healthy. Unlike entropy there is NO logarithm anywhere: the "
    "collision mass sum c(c-1) is an exact int64 rollup, so both "
    "engines divide the same exact integers and the result is "
    "bit-identical before the rounding (at 100 TB the c^2 moments "
    "would ride DECIMAL(38,0) partials, same plan). Scale: one "
    "(source, token) count shuffle + one source rollup — no vocab "
    "broadcast, no window, Heaps'-law-safe.",
)
def t52_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    t = c.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1)).cast("bigint").alias("coll"),
    )
    dtot = F.col("tot").cast("double")
    dcoll = F.col("coll").cast("double")
    lam = dcoll / (dtot * (F.col("tot") - 1))
    return t.select(
        "source",
        F.col("tot").alias("n_tokens"),
        "vocab",
        fround(lam, 6).alias("simpson_lambda"),
        fround(F.lit(1.0) - lam, 6).alias("gini_simpson"),
        fround((dtot * (F.col("tot") - 1)) / dcoll, 4).alias("effective_vocab"),
    )


# ---------------------------------------------------------------------------
# t53 — distinctive keywords per source via Dunning's log-likelihood ratio
# (round 7; the "what makes this source DIFFERENT" report)
# ---------------------------------------------------------------------------

_T53_TOPK = 12
_T53_Q = 1_000_000.0  # 1e-6 quantization of the per-token G² statistic


@query(
    "t53_llr_keywords",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    c AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a
        FROM tok GROUP BY source, tok
    ),
    ct AS (
        SELECT tok, CAST(SUM(a) AS BIGINT) AS c_all FROM c GROUP BY tok
    ),
    st AS (
        SELECT source, CAST(SUM(a) AS BIGINT) AS n1 FROM c GROUP BY source
    ),
    n AS (SELECT CAST(SUM(n1) AS BIGINT) AS nn FROM st),
    scored AS (
        SELECT c.source, c.tok, c.a,
               ct.c_all - c.a AS b,
               CAST(FLOOR(
                   2.0 * (
                       c.a * (ln(CAST(c.a AS DOUBLE) / st.n1)
                              - ln(CAST(ct.c_all AS DOUBLE) / n.nn))
                       + CASE WHEN ct.c_all - c.a = 0 THEN 0.0
                         ELSE (ct.c_all - c.a)
                              * (ln(CAST(ct.c_all - c.a AS DOUBLE) / (n.nn - st.n1))
                                 - ln(CAST(ct.c_all AS DOUBLE) / n.nn))
                         END
                   ) * {_T53_Q} + 0.5
               ) AS BIGINT) AS q
        FROM c JOIN ct ON c.tok = ct.tok
               JOIN st ON c.source = st.source
               CROSS JOIN n
        WHERE CAST(c.a AS DOUBLE) / st.n1 > CAST(ct.c_all AS DOUBLE) / n.nn
    ),
    ranked AS (
        SELECT source, tok, a, b, q,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY q DESC, tok
               ) AS rn
        FROM scored
    )
    SELECT source, tok AS token, a AS cnt_in_source, b AS cnt_elsewhere,
           CAST(q AS DOUBLE) / {_T53_Q} AS llr_g2
    FROM ranked WHERE rn <= {_T53_TOPK}
    """,
    doc=f"Top-{_T53_TOPK} distinctive keywords per source by Dunning's "
    "log-likelihood ratio (Dunning 1993) — the signed-G² keyword "
    "extraction every corpus-comparison toolkit ships, restricted to "
    "OVER-represented tokens (in-source rate above the corpus rate). "
    "The G² statistic is a single identically-shaped double "
    "expression per (source, token) row over exact int64 counts — "
    "there is no floating sum across rows at all, so the only "
    "determinism steps are the shared-subexpression discipline and "
    "one 1e-6 quantization that makes the top-k ORDER BY an integer "
    "sort (ties broken by token). b=0 tokens (unique to the source) "
    "contribute only the first term, guarded identically both "
    "engines. Scale: token-grain count shuffle joined to token "
    "totals on its own key (co-partitioned), source totals broadcast "
    "(source cardinality is small), and the per-source top-k window "
    "sorts vocab-per-source rows — bounded by vocabulary, never by "
    "corpus size.",
)
def t53_llr_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    ct = c.groupBy("tok").agg(F.sum("a").cast("bigint").alias("c_all"))
    st = c.groupBy("source").agg(F.sum("a").cast("bigint").alias("n1"))
    n = st.agg(F.sum("n1").cast("bigint").alias("nn"))
    j = (
        c.join(ct, "tok")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(n))
    )
    b = F.col("c_all") - F.col("a")
    term1 = F.col("a") * (
        F.log(F.col("a").cast("double") / F.col("n1"))
        - F.log(F.col("c_all").cast("double") / F.col("nn"))
    )
    term2 = F.when(b == 0, F.lit(0.0)).otherwise(
        b
        * (
            F.log(b.cast("double") / (F.col("nn") - F.col("n1")))
            - F.log(F.col("c_all").cast("double") / F.col("nn"))
        )
    )
    scored = j.filter(
        F.col("a").cast("double") / F.col("n1")
        > F.col("c_all").cast("double") / F.col("nn")
    ).select(
        "source",
        "tok",
        "a",
        b.alias("b"),
        F.floor(2.0 * (term1 + term2) * _T53_Q + 0.5).cast("bigint").alias("q"),
    )
    w = W.partitionBy("source").orderBy(F.col("q").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _T53_TOPK)
        .select(
            "source",
            F.col("tok").alias("token"),
            F.col("a").alias("cnt_in_source"),
            F.col("b").alias("cnt_elsewhere"),
            (F.col("q").cast("double") / _T53_Q).alias("llr_g2"),
        )
    )


# ---------------------------------------------------------------------------
# t54 — token burstiness / dispersion profile (round 7; Church & Gale's
# observation: real words clump, function words spread)
# ---------------------------------------------------------------------------

_T54_TOPK = 25


@query(
    "t54_token_burstiness",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    dt AS (
        SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY tok, doc_id
    ),
    m AS (
        SELECT tok,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS cf,
               CAST(SUM(tf * tf) AS BIGINT) AS s2
        FROM dt GROUP BY tok
    )
    SELECT tok AS token, df, cf,
           {sql_fround("CAST(cf AS DOUBLE) / df", 4)} AS mean_tf,
           {sql_fround(
               "CAST(s2 AS DOUBLE) / df"
               " - (CAST(cf AS DOUBLE) / df) * (CAST(cf AS DOUBLE) / df)",
               4,
           )} AS var_tf,
           {sql_fround(
               "(CAST(s2 AS DOUBLE) / df"
               " - (CAST(cf AS DOUBLE) / df) * (CAST(cf AS DOUBLE) / df))"
               " / (CAST(cf AS DOUBLE) / df)",
               4,
           )} AS vmr
    FROM m
    ORDER BY cf DESC, tok
    LIMIT {_T54_TOPK}
    """,
    doc=f"Burstiness profile of the {_T54_TOPK} most frequent tokens: "
    "within-document term-frequency mean, variance, and "
    "variance-to-mean ratio (the index of dispersion — 1 under a "
    "Poisson process). Church & Gale's classic observation is that "
    "content words CLUMP (a document that says a word once says it "
    "again, VMR >> 1) while function words spread Poisson-like — the "
    "dial that separates topical from boilerplate vocabulary, and a "
    "direct input to Poisson-mixture language models and t27-style "
    "importance weights. All moments (df, cf, sum tf^2) are exact "
    "int64 rollups of exact per-(token, doc) counts; the "
    "mean/variance/VMR are identically-shaped double expressions on "
    "those exact integers, bit-identical both engines before the "
    "rounding. Scale: one (token, doc) count shuffle, one token-grain "
    "rollup, TakeOrdered top-k cut — no window, no global sort, no "
    "vocab broadcast.",
)
def t54_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
    dt = tok.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    m = dt.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("s2"),
    )
    mean = F.col("cf").cast("double") / F.col("df")
    var = F.col("s2").cast("double") / F.col("df") - mean * mean
    return (
        m.select(
            F.col("tok").alias("token"),
            "df",
            "cf",
            fround(mean, 4).alias("mean_tf"),
            fround(var, 4).alias("var_tf"),
            fround(var / mean, 4).alias("vmr"),
        )
        .orderBy(F.col("cf").desc(), "token")
        .limit(_T54_TOPK)
    )


# ---------------------------------------------------------------------------
# t55 — staged dedup waterfall (round 7; the pipeline report that says
# which dedup stage actually earns its compute)
# ---------------------------------------------------------------------------

_T55_PK = 32  # d17's prefix block width, reused for stage 2


def _t55_chain(d: DataFrame) -> dict:
    """The t55 waterfall stage chain as a shared stage (t55 reports
    stage economics; t62 audits WHICH docs each stage removes):
    returns s0 and the three removal frames, each (doc_id, len).

    r12 (guide §2.4): every stage's output rides the scratch-parquet
    frame tier — each was consumed from 2-4 subtrees of the composed
    t55/t62 plans (waterfall economics read all three removal frames,
    t62 left-joins them all onto s0), and the lazy persists raced —
    measured 3.8 s (t62) / 2.6 s (t55) solo at sf0.1 before, with the
    exact-hash + prefix self-join + shingle-md5 chain re-running per
    consumer."""
    s0 = d.select("doc_id", "text", F.length("text").cast("bigint").alias("len"))

    def build_ex_rm(s0: DataFrame) -> DataFrame:
        h = F.md5(F.col("text").cast("binary"))
        ex_keep = s0.groupBy(h.alias("h")).agg(F.min("doc_id").alias("keeper"))
        return (
            s0.select("doc_id", "len", h.alias("_h"))
            .join(ex_keep, F.col("_h") == ex_keep["h"])
            .filter(F.col("doc_id") > F.col("keeper"))
            .select("doc_id", "len")
        )

    ex_rm = tier(build_ex_rm, s0)

    def build_pre_rm(s0: DataFrame, ex_rm: DataFrame) -> DataFrame:
        s1 = s0.join(ex_rm.select("doc_id"), "doc_id", "left_anti")
        blk = F.substring("text", 1, _T55_PK)
        a = s1.select("doc_id", "len", "text", blk.alias("blk"))
        b = s1.select(
            F.col("len").alias("_len2"), F.col("text").alias("_t2"), blk.alias("_blk2")
        )
        return (
            a.join(b, (a["blk"] == b["_blk2"]) & (a["len"] < b["_len2"]))
            .filter(F.col("_t2").startswith(F.col("text")))
            .select("doc_id", "len")
            .distinct()
        )

    pre_rm = tier(build_pre_rm, s0, ex_rm)

    def build_fp(s0: DataFrame, ex_rm: DataFrame, pre_rm: DataFrame) -> DataFrame:
        s2 = (
            s0.join(ex_rm.select("doc_id"), "doc_id", "left_anti")
            .join(pre_rm.select("doc_id"), "doc_id", "left_anti")
        )
        toks = X.tokens(F.col("text"))
        return s2.filter(F.size(toks) >= 3).select(
            "doc_id", "len", X.min_shingle_fingerprint(toks).alias("f")
        )

    # the shingle-md5 map is the expensive leaf and feeds both the
    # keeper rollup and the removal join — tier-materialized once
    fp = tier(build_fp, s0, ex_rm, pre_rm)
    fp_keep = fp.groupBy("f").agg(F.min("doc_id").alias("keeper"))
    fp_rm = fp.join(fp_keep, "f").filter(F.col("doc_id") > F.col("keeper")).select(
        "doc_id", "len"
    )
    return {"s0": s0, "ex_rm": ex_rm, "pre_rm": pre_rm, "fp_rm": fp_rm}



@query(
    "t55_dedup_waterfall",
    oracle=f"""
    WITH s0 AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
        FROM documents
    ),
    ex_keep AS (
        SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM s0 GROUP BY md5(text)
    ),
    ex_rm AS (
        SELECT s0.doc_id, s0.len FROM s0
        JOIN ex_keep ON md5(s0.text) = ex_keep.h AND s0.doc_id > ex_keep.keeper
    ),
    s1 AS (
        SELECT * FROM s0 WHERE doc_id NOT IN (SELECT doc_id FROM ex_rm)
    ),
    pre_rm AS (
        SELECT DISTINCT a.doc_id, a.len
        FROM s1 a JOIN s1 b
          ON substr(a.text, 1, {_T55_PK}) = substr(b.text, 1, {_T55_PK})
         AND a.len < b.len AND starts_with(b.text, a.text)
    ),
    s2 AS (
        SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM pre_rm)
    ),
    fp AS (
        SELECT doc_id, len,
               list_min(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               )) AS f
        FROM (SELECT doc_id, len, {_DUCK_TOKS} AS toks FROM s2) t
        WHERE len(toks) >= 3
    ),
    fp_keep AS (SELECT f, MIN(doc_id) AS keeper FROM fp GROUP BY f),
    fp_rm AS (
        SELECT fp.doc_id, fp.len FROM fp
        JOIN fp_keep ON fp.f = fp_keep.f AND fp.doc_id > fp_keep.keeper
    ),
    stages AS (
        SELECT 1 AS stage, 'exact_hash' AS stage_name,
               (SELECT COUNT(*) FROM s0) AS docs_in,
               (SELECT COUNT(*) FROM ex_rm) AS docs_removed,
               (SELECT COALESCE(SUM(len), 0) FROM ex_rm) AS chars_removed
        UNION ALL
        SELECT 2, 'prefix_subsumed',
               (SELECT COUNT(*) FROM s1),
               (SELECT COUNT(*) FROM pre_rm),
               (SELECT COALESCE(SUM(len), 0) FROM pre_rm)
        UNION ALL
        SELECT 3, 'shingle_fingerprint',
               (SELECT COUNT(*) FROM s2),
               (SELECT COUNT(*) FROM fp_rm),
               (SELECT COALESCE(SUM(len), 0) FROM fp_rm)
    )
    SELECT CAST(stage AS INTEGER) AS stage, stage_name,
           CAST(docs_in AS BIGINT) AS docs_in,
           CAST(docs_removed AS BIGINT) AS docs_removed,
           CAST(chars_removed AS BIGINT) AS chars_removed,
           CAST(docs_in - docs_removed AS BIGINT) AS docs_out,
           {sql_fround("CAST(docs_removed AS DOUBLE) / docs_in", 6)}
               AS removed_share
    FROM stages
    """,
    doc="Staged dedup waterfall — the audit every dedup pipeline owner "
    "wants before burning compute: exact-hash dedup (t03's rule), "
    "then full-text prefix subsumption on the survivors (d17's rule: "
    "what truncation hides from hashing), then min-shingle "
    "fingerprint near-dup collapse (t04's MinHash-floor rule) — each "
    "stage reporting docs in, removed, characters reclaimed, and "
    "removal share, SEQUENCED so every stage only sees the previous "
    "stage's survivors (the marginal value of each stage, not its "
    "standalone value — the number that justifies or kills a stage). "
    "All counts are exact integers off deterministic keeper rules "
    "(min doc_id per group). Scale: stage 1 is a hash rollup, stage "
    "2 the d17 block-bounded pair join, stage 3 a fingerprint rollup "
    "— each removal set joins back anti-style on doc_id; nothing "
    "enumerates cross-stage pairs.",
)
def t55_dedup_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    chain = _t55_chain(d)
    s0, ex_rm, pre_rm, fp_rm = (
        chain["s0"], chain["ex_rm"], chain["pre_rm"], chain["fp_rm"]
    )

    # Single pass: each chain frame aggregates ONCE (stage populations
    # follow arithmetically from upstream removals — recounting s1/s2
    # would recompute the whole chain per stage), and the four
    # single-row summaries meet via broadcast.
    def rm_stats(rm: DataFrame, n_col: str, ch_col: str) -> DataFrame:
        return rm.agg(
            F.count(F.lit(1)).cast("bigint").alias(n_col),
            F.coalesce(F.sum("len"), F.lit(0)).cast("bigint").alias(ch_col),
        )

    n0 = s0.agg(F.count(F.lit(1)).cast("bigint").alias("n0"))
    combined = (
        n0.crossJoin(F.broadcast(rm_stats(ex_rm, "ex_n", "ex_ch")))
        .crossJoin(F.broadcast(rm_stats(pre_rm, "pre_n", "pre_ch")))
        .crossJoin(F.broadcast(rm_stats(fp_rm, "fp_n", "fp_ch")))
    )
    stages = combined.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("int").alias("stage"),
                    F.lit("exact_hash").alias("stage_name"),
                    F.col("n0").alias("docs_in"),
                    F.col("ex_n").alias("docs_removed"),
                    F.col("ex_ch").alias("chars_removed"),
                ),
                F.struct(
                    F.lit(2).cast("int").alias("stage"),
                    F.lit("prefix_subsumed").alias("stage_name"),
                    (F.col("n0") - F.col("ex_n")).alias("docs_in"),
                    F.col("pre_n").alias("docs_removed"),
                    F.col("pre_ch").alias("chars_removed"),
                ),
                F.struct(
                    F.lit(3).cast("int").alias("stage"),
                    F.lit("shingle_fingerprint").alias("stage_name"),
                    (F.col("n0") - F.col("ex_n") - F.col("pre_n")).alias("docs_in"),
                    F.col("fp_n").alias("docs_removed"),
                    F.col("fp_ch").alias("chars_removed"),
                ),
            )
        ).alias("s")
    )
    return stages.select(
        "s.stage",
        "s.stage_name",
        F.col("s.docs_in").cast("bigint").alias("docs_in"),
        F.col("s.docs_removed").cast("bigint").alias("docs_removed"),
        F.col("s.chars_removed").cast("bigint").alias("chars_removed"),
        (F.col("s.docs_in") - F.col("s.docs_removed")).cast("bigint").alias("docs_out"),
        fround(
            F.col("s.docs_removed").cast("double") / F.col("s.docs_in"), 6
        ).alias("removed_share"),
    )


# ---------------------------------------------------------------------------
# t56 — BPE merge training, two unrolled rounds (round 7; the tokenizer-
# training step itself, g02-style fixed-round unrolling)
# ---------------------------------------------------------------------------

# merge placeholder: a codepoint the corpus alphabet cannot contain
_T56_MARK = "\x01"

# shared training CTEs (w -> p1 -> m1 -> w2 -> p2 -> m2): t56 reports
# the merges, t57 applies them — ONE definition so the oracles can
# never drift apart
_T56_TRAIN_CTES = f"""
    w AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({_DUCK_TOKS}) AS token FROM documents) t
        GROUP BY token
    ),
    p1 AS (
        -- per-row unnest derives the position bound from EACH token's
        -- length (no fixed generate_series cap to outgrow — ADVICE r7)
        SELECT substr(token, i, 1) AS l, substr(token, i + 1, 1) AS r,
               CAST(SUM(cnt) AS BIGINT) AS c
        FROM (
            SELECT token, cnt,
                   unnest(generate_series(1, length(token) - 1)) AS i
            FROM w
        ) u
        GROUP BY 1, 2
    ),
    m1 AS (
        SELECT l, r, c FROM p1
        ORDER BY c DESC, l, r LIMIT 1
    ),
    w2 AS (
        SELECT replace(w.token, m1.l || m1.r, chr(1)) AS tok2, w.cnt,
               m1.l || m1.r AS merged
        FROM w CROSS JOIN m1
    ),
    p2 AS (
        SELECT CASE WHEN substr(tok2, i, 1) = chr(1) THEN merged
                    ELSE substr(tok2, i, 1) END AS l,
               CASE WHEN substr(tok2, i + 1, 1) = chr(1) THEN merged
                    ELSE substr(tok2, i + 1, 1) END AS r,
               CAST(SUM(cnt) AS BIGINT) AS c
        FROM (
            SELECT tok2, cnt, merged,
                   unnest(generate_series(1, length(tok2) - 1)) AS i
            FROM w2
        ) u
        GROUP BY 1, 2
    ),
    m2 AS (
        SELECT l, r, c FROM p2
        ORDER BY c DESC, l, r LIMIT 1
    )
"""



def _t56_merges(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The t56 training chain as a shared stage: global vocab counts →
    top-1 pair (m1) → vocab rewrite → top-1 pair again (m2). Returns
    the two single-row merge frames so t57 (apply) consumes the SAME
    learned merges the t56 report shows."""
    w = (
        d.select(F.explode(X.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )

    def pair_counts(df: DataFrame, tok_col: str, sym) -> DataFrame:
        chars = F.sequence(F.lit(1), F.length(tok_col) - 1)
        pairs = df.select(
            "cnt",
            F.explode(chars).alias("i"),
            F.col(tok_col).alias("_t"),
            *([F.col("merged")] if sym else []),
        ).select(
            "cnt",
            F.expr("substr(_t, i, 1)").alias("lc"),
            F.expr("substr(_t, i + 1, 1)").alias("rc"),
            *([F.col("merged")] if sym else []),
        )
        if sym:
            l = F.when(F.col("lc") == _T56_MARK, F.col("merged")).otherwise(F.col("lc"))
            r = F.when(F.col("rc") == _T56_MARK, F.col("merged")).otherwise(F.col("rc"))
        else:
            l, r = F.col("lc"), F.col("rc")
        return (
            pairs.select(l.alias("l"), r.alias("r"), "cnt")
            .groupBy("l", "r")
            .agg(F.sum("cnt").cast("bigint").alias("c"))
        )

    m1 = pair_counts(w, "token", sym=False).orderBy(
        F.col("c").desc(), "l", "r"
    ).limit(1)
    w2 = w.crossJoin(F.broadcast(m1)).select(
        F.replace(
            F.col("token"), F.concat(F.col("l"), F.col("r")), F.lit(_T56_MARK)
        ).alias("tok2"),
        "cnt",
        F.concat(F.col("l"), F.col("r")).alias("merged"),
    )
    m2 = pair_counts(w2, "tok2", sym=True).orderBy(
        F.col("c").desc(), "l", "r"
    ).limit(1)
    return m1, m2


@query(
    "t56_bpe_merges",
    oracle=f"""
    WITH {_T56_TRAIN_CTES}
    SELECT CAST(1 AS INTEGER) AS round, l AS left_sym, r AS right_sym,
           c AS pair_count
    FROM m1
    UNION ALL
    SELECT CAST(2 AS INTEGER), l, r, c FROM m2
    """,
    doc="Byte-pair-encoding TRAINING, two statically-unrolled merge "
    "rounds (Sennrich et al. 2016) — the step every BPE/WordPiece "
    "tokenizer build repeats 30k times, expressed as pure relational "
    "algebra: weight each distinct word by its corpus count, count "
    "adjacent character pairs, crown the max (count desc, pair asc — "
    "deterministic tie-break), REWRITE the vocabulary with the merge "
    "(leftmost non-overlapping replace, identical semantics both "
    "engines, a sentinel codepoint standing in for the merged "
    "symbol), and count again — the g02/g03 fixed-round-unroll trick "
    "applied to tokenizer training, so the whole thing is "
    "hash-checked. Pair counts are exact int64; no floats anywhere. "
    "Scale: pair counting runs once per DISTINCT word (vocab-, never "
    "corpus-sized — the same reason production BPE trainers "
    "pre-aggregate to word counts), the argmax is a top-1 over an "
    "alphabet-bounded pair table, and the rewrite is a broadcast of "
    "one merge rule.",
)
def t56_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m1, m2 = _t56_merges(d)
    one = m1.select(
        F.lit(1).cast("int").alias("round"),
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        F.col("c").alias("pair_count"),
    )
    two = m2.select(
        F.lit(2).cast("int").alias("round"),
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        F.col("c").alias("pair_count"),
    )
    return one.unionByName(two)


# ---------------------------------------------------------------------------
# t57 — BPE APPLY: tokenize the corpus with t56's learned merges and
# report per-source symbol compression (round 8; closes the
# train-without-apply gap the same way m08 closed m07's)
# ---------------------------------------------------------------------------

_T57_MARK2 = "\x02"  # second merged symbol; disjoint from _T56_MARK


@query(
    "t57_bpe_apply",
    oracle=f"""
    WITH {_T56_TRAIN_CTES},
    ws AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT source, unnest({_DUCK_TOKS}) AS token FROM documents) t
        GROUP BY 1, 2
    ),
    v AS (SELECT DISTINCT token FROM ws),
    enc AS (
        SELECT v.token,
               CAST(length(v.token) AS BIGINT) AS pre_len,
               CAST(length(replace(
                   replace(v.token, m1.l || m1.r, chr(1)),
                   (CASE WHEN m2.l = m1.l || m1.r THEN chr(1) ELSE m2.l END)
                   || (CASE WHEN m2.r = m1.l || m1.r THEN chr(1) ELSE m2.r END),
                   chr(2))) AS BIGINT) AS post_len
        FROM v CROSS JOIN m1 CROSS JOIN m2
    )
    SELECT ws.source,
           CAST(SUM(ws.cnt * enc.pre_len) AS BIGINT) AS pre_symbols,
           CAST(SUM(ws.cnt * enc.post_len) AS BIGINT) AS post_symbols,
           CAST(SUM(ws.cnt * (enc.pre_len - enc.post_len)) AS BIGINT)
               AS symbols_saved,
           {sql_fround("CAST(SUM(ws.cnt * enc.post_len) AS DOUBLE)"
                       " / SUM(ws.cnt * enc.pre_len)", 6)} AS compression
    FROM ws JOIN enc USING (token)
    GROUP BY 1
    """,
    doc="BPE APPLY — the consumer of t56's trained merges (tokenizers "
    "train once, then encode trillions of tokens; training without "
    "application is half a tokenizer): re-derive the SAME two learned "
    "merges (shared stage _t56_merges / _T56_TRAIN_CTES, so report "
    "and apply can never disagree), encode every vocabulary word as "
    "leftmost-non-overlapping replaces with sentinel codepoints "
    "(merge 2's pattern rewritten into merge-1 space — exactly how a "
    "real BPE encoder walks its merge table), and roll per-SOURCE "
    "symbol counts pre/post. All counts are exact int64 products of "
    "corpus counts and vocab-word lengths; the only float is the "
    "final compression ratio. Scale: encoding runs once per DISTINCT "
    "word (vocab-, never corpus-grain — the production trick), the "
    "two merge rules arrive by broadcast, and the per-source rollup "
    "is one shuffle on (source, token) that the ws aggregate already "
    "paid.",
)
def t57_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m1, m2 = _t56_merges(d)
    pat1 = F.concat(F.col("_l1"), F.col("_r1"))
    pat2 = F.concat(
        F.when(F.col("_l2") == pat1, F.lit(_T56_MARK)).otherwise(F.col("_l2")),
        F.when(F.col("_r2") == pat1, F.lit(_T56_MARK)).otherwise(F.col("_r2")),
    )
    merges = F.broadcast(
        m1.select(F.col("l").alias("_l1"), F.col("r").alias("_r1")).crossJoin(
            m2.select(F.col("l").alias("_l2"), F.col("r").alias("_r2"))
        )
    )
    ws = (
        d.select("source", F.explode(X.tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    enc = (
        ws.select("token").distinct()
        .crossJoin(merges)
        .select(
            "token",
            F.length("token").cast("bigint").alias("pre_len"),
            F.length(
                F.replace(
                    F.replace(F.col("token"), pat1, F.lit(_T56_MARK)),
                    pat2,
                    F.lit(_T57_MARK2),
                )
            )
            .cast("bigint")
            .alias("post_len"),
        )
    )
    return (
        ws.join(enc, "token")
        .groupBy("source")
        .agg(
            F.sum(F.col("cnt") * F.col("pre_len")).cast("bigint").alias("pre_symbols"),
            F.sum(F.col("cnt") * F.col("post_len")).cast("bigint").alias("post_symbols"),
            F.sum(F.col("cnt") * (F.col("pre_len") - F.col("post_len")))
            .cast("bigint")
            .alias("symbols_saved"),
            fround(
                F.sum(F.col("cnt") * F.col("post_len")).cast("double")
                / F.sum(F.col("cnt") * F.col("pre_len")),
                6,
            ).alias("compression"),
        )
    )


# ---------------------------------------------------------------------------
# t58/t59 — robust-statistics consumers of the t06 quality score
# (round 8): winsorized/trimmed means and the Kneedle threshold pick.
# Scores ride as exact basis-point integers (quality is 4dp-portable-
# rounded, so *10000 is integer-valued on both engines), making every
# aggregate an exact int64 identity.
# ---------------------------------------------------------------------------

_T58_QBP_SQL = """
    SELECT doc_id, source,
           CAST(FLOOR((0.4 * LEAST(n_tokens / 20.0, 1.0)
                       + 0.4 * (1.0 - stop_ratio)
                       + 0.2 * LEAST(avg_token_len / 8.0, 1.0)) * 10000.0
                      + 0.5) AS BIGINT) // 10 * 10 AS qbp
    FROM (
        SELECT doc_id, source,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               {stop_ratio} AS stop_ratio,
               {avg_len} AS avg_token_len
        FROM (SELECT doc_id, source, {toks} AS toks FROM documents) t
    ) m
"""


def _t58_qbp_sql() -> str:
    return _T58_QBP_SQL.format(
        stop_ratio=sql_fround(
            f"CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPS}))) AS DOUBLE)"
            " / len(toks)",
            4,
        ),
        avg_len=sql_fround(
            "CAST(list_reduce(list_transform(toks, x -> len(x)), (a,b) -> a+b)"
            " AS DOUBLE) / len(toks)",
            4,
        ),
        toks=_DUCK_TOKS,
    )


def _t58_qbp(d: DataFrame) -> DataFrame:
    """(doc_id, source, qbp): the t06 quality score as exact basis-point
    int64, floored to 10-bp buckets. The *10000 quantization is safe
    because quality is produced by portable 4-dp rounding on both
    engines; the 10-bp floor keeps the value grid comfortably smaller
    than the doc population (the rank-block precondition)."""
    toks = X.tokens(F.col("text"))
    m = d.select(
        "doc_id",
        "source",
        X.token_count(toks).alias("n_tokens"),
        fround(X.stopword_count(toks).cast("double") / X.token_count(toks), 4).alias(
            "_sr"
        ),
        fround(X.total_chars(toks).cast("double") / X.token_count(toks), 4).alias(
            "_al"
        ),
    )
    q = X.quality_score(F.col("n_tokens"), F.col("_sr"), F.col("_al"))
    return m.select(
        "doc_id",
        "source",
        (F.floor(q * 10000.0 + 0.5).cast("bigint") / 10).cast("bigint").alias("_q10"),
    ).select("doc_id", "source", (F.col("_q10") * 10).alias("qbp"))


@query(
    "t58_winsorized_quality",
    oracle=f"""
    WITH q AS ({_t58_qbp_sql()}),
    vals AS (
        SELECT source, qbp, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM q GROUP BY 1, 2
    ),
    cum AS (
        SELECT source, qbp, cnt,
               SUM(cnt) OVER (PARTITION BY source ORDER BY qbp) AS cum,
               SUM(cnt) OVER (PARTITION BY source) AS n
        FROM vals
    ),
    fence AS (
        SELECT source,
               CAST(MAX(n) AS BIGINT) AS n_docs,
               MIN(CASE WHEN cum >= (10 * n + 99) // 100 THEN qbp END) AS lo,
               MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN qbp END) AS hi
        FROM cum GROUP BY 1
    ),
    agg AS (
        SELECT v.source, f.n_docs, f.lo, f.hi,
               CAST(SUM(v.qbp * v.cnt) AS BIGINT) AS s_raw,
               CAST(SUM(LEAST(GREATEST(v.qbp, f.lo), f.hi) * v.cnt) AS BIGINT)
                   AS s_wins,
               CAST(SUM(CASE WHEN v.qbp BETWEEN f.lo AND f.hi
                             THEN v.qbp * v.cnt ELSE 0 END) AS BIGINT) AS s_trim,
               CAST(SUM(CASE WHEN v.qbp BETWEEN f.lo AND f.hi
                             THEN v.cnt ELSE 0 END) AS BIGINT) AS n_trim
        FROM vals v JOIN fence f USING (source)
        GROUP BY 1, 2, 3, 4
    )
    SELECT source, n_docs,
           {sql_fround("CAST(lo AS DOUBLE) / 10000", 4)} AS p10_quality,
           {sql_fround("CAST(hi AS DOUBLE) / 10000", 4)} AS p90_quality,
           {sql_fround("CAST(s_raw AS DOUBLE) / (10000.0 * n_docs)", 6)} AS mean_q,
           {sql_fround("CAST(s_wins AS DOUBLE) / (10000.0 * n_docs)", 6)}
               AS winsorized_q,
           {sql_fround("CAST(s_trim AS DOUBLE) / (10000.0 * n_trim)", 6)}
               AS trimmed_q
    FROM agg
    """,
    doc="Winsorized and trimmed mean quality per source (Dixon 1960; "
    "Tukey's robust-location toolkit): the plain mean of the t06 "
    "quality score beside the 10/90-winsorized mean (outliers CLAMPED "
    "to the fences) and the value-trimmed mean (outliers DROPPED) — "
    "the comparison that tells a corpus owner whether a source's mean "
    "quality is real or two garbage outliers wide. Scores ride as "
    "exact 10-basis-point int64 buckets; fences are type-1 quantiles "
    "off the (source, value) grid (q93's rank-block discipline), and "
    "every mean is an exact integer product sum with one final "
    "division. Scale: one doc-grain score map, one (source, value) "
    "rollup, a bounded value-grid window, and a 20-row fence join "
    "back to the value grid — the doc population is never sorted.",
)
def t58_winsorized_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    vals = _t58_qbp(d).groupBy("source", "qbp").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wc = W.partitionBy("source").orderBy("qbp")
    wn = W.partitionBy("source")
    cum = vals.select(
        "source",
        "qbp",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    fence = cum.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        # exact integer ceil(pct*n/100) — see q93's fence note
        F.min(
            F.when(F.col("cum") >= F.expr("(10 * n + 99) div 100"), F.col("qbp"))
        ).alias("lo"),
        F.min(
            F.when(F.col("cum") >= F.expr("(90 * n + 99) div 100"), F.col("qbp"))
        ).alias("hi"),
    )
    wq = F.least(F.greatest(F.col("qbp"), F.col("lo")), F.col("hi"))
    in_rng = F.col("qbp").between(F.col("lo"), F.col("hi"))
    agg = (
        vals.join(F.broadcast(fence), "source")
        .groupBy("source", "n_docs", "lo", "hi")
        .agg(
            F.sum(F.col("qbp") * F.col("cnt")).cast("bigint").alias("s_raw"),
            F.sum(wq * F.col("cnt")).cast("bigint").alias("s_wins"),
            F.sum(F.when(in_rng, F.col("qbp") * F.col("cnt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("s_trim"),
            F.sum(F.when(in_rng, F.col("cnt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_trim"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        fround(F.col("lo").cast("double") / 10000, 4).alias("p10_quality"),
        fround(F.col("hi").cast("double") / 10000, 4).alias("p90_quality"),
        fround(F.col("s_raw").cast("double") / (10000.0 * F.col("n_docs")), 6).alias(
            "mean_q"
        ),
        fround(F.col("s_wins").cast("double") / (10000.0 * F.col("n_docs")), 6).alias(
            "winsorized_q"
        ),
        fround(F.col("s_trim").cast("double") / (10000.0 * F.col("n_trim")), 6).alias(
            "trimmed_q"
        ),
    )


@query(
    "t59_kneedle_threshold",
    oracle=f"""
    WITH q AS ({_t58_qbp_sql()}),
    vals AS (
        SELECT source, qbp, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM q GROUP BY 1, 2
    ),
    cum AS (
        SELECT source, qbp, cnt,
               SUM(cnt) OVER (PARTITION BY source ORDER BY qbp DESC) AS cum,
               SUM(cnt) OVER (PARTITION BY source) AS n,
               MAX(qbp) OVER (PARTITION BY source) AS ymax,
               MIN(qbp) OVER (PARTITION BY source) AS ymin
        FROM vals
    ),
    scored AS (
        SELECT source, qbp, cum, n, ymax, ymin,
               CAST((qbp - ymin) * (n - 1) + (ymax - ymin) * (cum - 1)
                    AS BIGINT) AS d_scaled,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY (qbp - ymin) * (n - 1) + (ymax - ymin) * (cum - 1)
                            DESC, qbp DESC
               ) AS rn
        FROM cum
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           {sql_fround("CAST(qbp AS DOUBLE) / 10000", 4)} AS knee_quality,
           CAST(cum AS BIGINT) AS kept_docs,
           {sql_fround("CAST(cum AS DOUBLE) / n", 6)} AS kept_share
    FROM scored WHERE rn = 1
    """,
    doc="Kneedle threshold pick (Satopaa et al. 2011): per source, "
    "sort the quality curve descending, normalize to the unit square, "
    "and return the KNEE — the point of maximum distance above the "
    "no-curvature diagonal — as the quality-filter threshold plus how "
    "much of the source survives it. The argmax runs on an exact "
    "integer identity: d = (y-ymin)/(ymax-ymin) + (i-1)/(n-1) - 1 "
    "maximized equals (y-ymin)*(n-1) + (ymax-ymin)*(i-1) maximized "
    "(positive common scale, constant dropped), so both engines "
    "compare identical int64s — no normalize-then-compare float "
    "hazard, and a flat curve (ymax = ymin) degrades gracefully to "
    "the max-quality tiebreak instead of dividing by zero. Within a "
    "run of equal scores d grows with i, so evaluating at each "
    "distinct value's END position (cum) is exactly the per-row "
    "argmax — the curve is never materialized at doc grain. Scale: "
    "one (source, value) rollup, bounded value-grid windows, a "
    "top-1-per-source pick.",
)
def t59_kneedle_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    vals = _t58_qbp(d).groupBy("source", "qbp").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wdesc = W.partitionBy("source").orderBy(F.col("qbp").desc())
    wall = W.partitionBy("source")
    cum = vals.select(
        "source",
        "qbp",
        F.sum("cnt").over(wdesc).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
        F.max("qbp").over(wall).alias("ymax"),
        F.min("qbp").over(wall).alias("ymin"),
    )
    d_scaled = (F.col("qbp") - F.col("ymin")) * (F.col("n") - 1) + (
        F.col("ymax") - F.col("ymin")
    ) * (F.col("cum") - 1)
    scored = cum.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("source").orderBy(d_scaled.desc(), F.col("qbp").desc())
        ),
    )
    return scored.filter(F.col("rn") == 1).select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        fround(F.col("qbp").cast("double") / 10000, 4).alias("knee_quality"),
        F.col("cum").cast("bigint").alias("kept_docs"),
        fround(F.col("cum").cast("double") / F.col("n"), 6).alias("kept_share"),
    )


# ---------------------------------------------------------------------------
# t60 — Cohen's kappa for the language-ID classifier (round 8): t36
# reports per-class precision/recall; t60 answers the question PRF
# cannot — is the classifier better than CHANCE agreement with the
# labels? (Cohen 1960)
# ---------------------------------------------------------------------------


@query(
    "t60_cohens_kappa",
    oracle=f"""
    WITH conf AS (
        SELECT lang, {X.sql_predict_lang("toks")} AS pred,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT lang, {_DUCK_TOKS} AS toks FROM documents) t
        GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM conf),
    rows_ AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS rn FROM conf GROUP BY 1),
    cols_ AS (SELECT pred, CAST(SUM(n) AS BIGINT) AS cn FROM conf GROUP BY 1),
    diag AS (
        SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS agree
        FROM conf WHERE lang = pred
    ),
    chance AS (
        SELECT CAST(SUM(r.rn * c.cn) AS BIGINT) AS exp_num
        FROM rows_ r JOIN cols_ c ON c.pred = r.lang
    )
    SELECT tot.nn AS n_docs,
           diag.agree AS n_agree,
           {sql_fround("CAST(diag.agree AS DOUBLE) / tot.nn", 6)} AS p_observed,
           {sql_fround(
               "CAST(chance.exp_num AS DOUBLE) / (CAST(tot.nn AS DOUBLE) * tot.nn)",
               6,
           )} AS p_chance,
           {sql_fround(
               "(CAST(diag.agree AS DOUBLE) * tot.nn - chance.exp_num)"
               " / (CAST(tot.nn AS DOUBLE) * tot.nn - chance.exp_num)",
               6,
           )} AS kappa
    FROM tot, diag, chance
    """,
    doc="Cohen's kappa for the t07 language-ID classifier against the "
    "corpus labels (Cohen 1960): chance-corrected agreement "
    "kappa = (po - pe)/(1 - pe), the one number that exposes a "
    "classifier that merely predicts the majority class — t36's "
    "precision/recall table cannot (a degenerate all-'en' predictor "
    "scores decent micro-accuracy on an en-heavy corpus but kappa "
    "~ 0). The identity is computed on exact int64 cross products "
    "(agree*N - sum(row_i*col_i), all integers) with ONE final "
    "division, so both engines divide identical exact integers — "
    "the q90/q94 discipline applied to inter-rater statistics. "
    "Scale: one (label, prediction) confusion rollup (25 cells), "
    "then arithmetic on broadcast single-row frames; the corpus is "
    "scanned once.",
)
def t60_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    conf = (
        d.select("lang", X.predict_lang(toks).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    tot = conf.agg(F.sum("n").cast("bigint").alias("nn"))
    rows_ = conf.groupBy("lang").agg(F.sum("n").cast("bigint").alias("rn"))
    cols_ = conf.groupBy("pred").agg(F.sum("n").cast("bigint").alias("cn"))
    diag = conf.filter(F.col("lang") == F.col("pred")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("agree")
    )
    chance = (
        rows_.join(cols_, rows_["lang"] == cols_["pred"])
        .agg(F.sum(F.col("rn") * F.col("cn")).cast("bigint").alias("exp_num"))
    )
    out = (
        tot.crossJoin(F.broadcast(diag))
        .crossJoin(F.broadcast(chance))
    )
    dnn = F.col("nn").cast("double")
    dagree = F.col("agree").cast("double")
    dexp = F.col("exp_num").cast("double")
    return out.select(
        F.col("nn").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        fround(dagree / F.col("nn"), 6).alias("p_observed"),
        fround(dexp / (dnn * F.col("nn")), 6).alias("p_chance"),
        fround((dagree * F.col("nn") - F.col("exp_num")) / (dnn * F.col("nn") - dexp), 6).alias(
            "kappa"
        ),
    )


# ---------------------------------------------------------------------------
# t61 — type-token-ratio curve by length decile (round 8): lexical
# diversity vs document length, the Herdan/Guiraud companion to t44's
# corpus-level Heaps fit — TTR falls with length BY CONSTRUCTION, so
# judging sources on raw TTR without length control is the classic
# corpus-linguistics blunder this table prevents
# ---------------------------------------------------------------------------


@query(
    "t61_ttr_by_length",
    oracle=f"""
    WITH d AS (
        SELECT CAST(len(toks) AS BIGINT) AS n_toks,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
        FROM (SELECT {_DUCK_TOKS} AS toks FROM documents) t
        WHERE len(toks) > 0
    ),
    vals AS (
        SELECT n_toks, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1
    ),
    cum AS (
        SELECT n_toks, cnt,
               SUM(cnt) OVER (ORDER BY n_toks) AS cum,
               SUM(cnt) OVER () AS n
        FROM vals
    ),
    fence AS (
        SELECT g.dec,
               MIN(CASE WHEN cum >= (g.dec * n + 4) // 5 THEN n_toks END)
                   AS hi
        FROM cum CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS dec) g
        GROUP BY 1
    ),
    bucketed AS (
        SELECT d.n_toks, d.n_types,
               (SELECT MIN(dec) FROM fence WHERE d.n_toks <= fence.hi)
                   AS bucket
        FROM d
    )
    SELECT CAST(bucket AS INTEGER) AS length_quintile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS tokens,
           CAST(SUM(n_types) AS BIGINT) AS types,
           {sql_fround("CAST(SUM(n_types) AS DOUBLE) / SUM(n_toks)", 6)} AS ttr,
           {sql_fround(
               "CAST(SUM(n_types) AS DOUBLE) / sqrt(CAST(SUM(n_toks) AS DOUBLE))",
               4,
           )} AS guiraud_r
    FROM bucketed
    GROUP BY 1
    """,
    doc="Type-token ratio by LENGTH QUINTILE: documents bucketed by "
    "exact type-1 length quintiles (the q93 value-grid fences), each "
    "bucket reporting pooled TTR = types/tokens and Guiraud's "
    "length-corrected R = types/sqrt(tokens) (Guiraud 1954; Herdan's "
    "law makes raw TTR fall with length, so comparing sources or "
    "filtering docs on uncontrolled TTR systematically punishes long "
    "documents — this table is the control). Token/type counts are "
    "exact int64 rollups; fences are integer picks off the "
    "length-VALUE grid; the only floats are two final divisions and "
    "one IEEE sqrt. Scale: one doc-grain count map, a bounded "
    "value-grid window for the fences (broadcast back as 5 rows), "
    "and a 5-group rollup — no window over the doc population.",
)
def t61_ttr_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    doc = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    d = doc.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_types"),
    ).filter(F.col("n_toks") > 0)
    vals = d.groupBy("n_toks").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    cum = vals.select(
        "n_toks",
        F.sum("cnt").over(W.orderBy("n_toks")).alias("cum"),
        F.sum("cnt").over(W.partitionBy(F.lit(1))).alias("n"),
    )
    decs = cum.sparkSession.range(1, 6).select(F.col("id").alias("dec"))
    fence = (
        cum.crossJoin(F.broadcast(decs))
        .groupBy("dec")
        .agg(
            # exact integer ceil(dec*n/5) — the double literal 0.2
            # overshoots integral thresholds (caught at sf0.001)
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(dec * n + 4) div 5"),
                    F.col("n_toks"),
                )
            ).alias("hi")
        )
    )
    bucketed = (
        d.crossJoin(F.broadcast(fence))
        .filter(F.col("n_toks") <= F.col("hi"))
        .groupBy("doc_id", "n_toks", "n_types")
        .agg(F.min("dec").alias("bucket"))
    )
    return (
        bucketed.groupBy(F.col("bucket").cast("int").alias("length_quintile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens"),
            F.sum("n_types").cast("bigint").alias("types"),
        )
        .select(
            "length_quintile",
            "n_docs",
            "tokens",
            "types",
            fround(F.col("types").cast("double") / F.col("tokens"), 6).alias("ttr"),
            fround(
                F.col("types").cast("double") / F.sqrt(F.col("tokens").cast("double")), 4
            ).alias("guiraud_r"),
        )
    )


# ---------------------------------------------------------------------------
# t62 — dedup SURVIVORSHIP audit (round 8): t55 prices each stage in
# docs and bytes; t62 asks the question a data-quality owner actually
# fears — is dedup silently FILTERING BY QUALITY (removing docs that
# differ systematically from survivors)?
# ---------------------------------------------------------------------------


@query(
    "t62_dedup_survivorship",
    oracle=f"""
    WITH q AS ({_t58_qbp_sql()}),
    s0 AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
        FROM documents
    ),
    ex_keep AS (
        SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM s0 GROUP BY md5(text)
    ),
    ex_rm AS (
        SELECT s0.doc_id FROM s0
        JOIN ex_keep ON md5(s0.text) = ex_keep.h AND s0.doc_id > ex_keep.keeper
    ),
    s1 AS (SELECT * FROM s0 WHERE doc_id NOT IN (SELECT doc_id FROM ex_rm)),
    pre_rm AS (
        SELECT DISTINCT a.doc_id
        FROM s1 a JOIN s1 b
          ON substr(a.text, 1, {_T55_PK}) = substr(b.text, 1, {_T55_PK})
         AND a.len < b.len AND starts_with(b.text, a.text)
    ),
    s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM pre_rm)),
    fp AS (
        SELECT doc_id,
               list_min(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               )) AS f
        FROM (SELECT doc_id, {{toks}} AS toks FROM s2) t
        WHERE len(toks) >= 3
    ),
    fp_keep AS (SELECT f, MIN(doc_id) AS keeper FROM fp GROUP BY f),
    fp_rm AS (
        SELECT fp.doc_id FROM fp
        JOIN fp_keep ON fp.f = fp_keep.f AND fp.doc_id > fp_keep.keeper
    ),
    labeled AS (
        SELECT s0.doc_id, s0.len,
               CASE WHEN s0.doc_id IN (SELECT doc_id FROM ex_rm)
                        THEN 'exact_hash'
                    WHEN s0.doc_id IN (SELECT doc_id FROM pre_rm)
                        THEN 'prefix_subsumed'
                    WHEN s0.doc_id IN (SELECT doc_id FROM fp_rm)
                        THEN 'shingle_fingerprint'
                    ELSE 'kept' END AS fate
        FROM s0
    ),
    g AS (
        SELECT l.fate, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(q.qbp) AS BIGINT) AS sq,
               CAST(SUM(l.len) AS BIGINT) AS sl
        FROM labeled l JOIN q ON q.doc_id = l.doc_id
        GROUP BY 1
    ),
    kept AS (SELECT sq AS ksq, n_docs AS kn FROM g WHERE fate = 'kept')
    SELECT g.fate, g.n_docs,
           {{mean_q}} AS mean_quality,
           {{mean_len}} AS mean_len,
           {{dq}} AS quality_delta_vs_kept
    FROM g CROSS JOIN kept
    """.format(
        toks=_DUCK_TOKS,
        mean_q=sql_fround("CAST(g.sq AS DOUBLE) / (10000.0 * g.n_docs)", 6),
        mean_len=sql_fround("CAST(g.sl AS DOUBLE) / g.n_docs", 2),
        dq=sql_fround(
            "CAST(g.sq AS DOUBLE) / (10000.0 * g.n_docs)"
            " - CAST(kept.ksq AS DOUBLE) / (10000.0 * kept.kn)",
            6,
        ),
    ),
    doc="Dedup SURVIVORSHIP audit: every document labeled with its "
    "waterfall fate (removed at exact-hash / prefix-subsumption / "
    "fingerprint stage, or kept — the SAME sequenced rules as t55 via "
    "the shared _t55_chain stage), then per fate the mean t06 quality "
    "and mean length plus the quality DELTA against survivors — the "
    "selection-bias check every dedup pipeline owner should run "
    "before celebrating d16's savings (Lee et al. 2022 report dedup "
    "can shift corpus composition; this measures it on YOUR corpus). "
    "Quality rides the exact 10-bp int64 buckets (t58's "
    "quantization); all aggregates are exact integer sums with final "
    "display divisions. Scale: the chain's joins are t55's (hash "
    "rollup, d17 block join, fingerprint rollup); labeling is three "
    "doc_id anti/semi joins; the report is a 4-row rollup.",
)
def t62_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    chain = _t55_chain(d)
    qbp = _t58_qbp(d).select("doc_id", "qbp")
    ex_ids = chain["ex_rm"].select("doc_id").withColumn("_f1", F.lit(1))
    pre_ids = chain["pre_rm"].select("doc_id").withColumn("_f2", F.lit(1))
    fp_ids = chain["fp_rm"].select("doc_id").withColumn("_f3", F.lit(1))
    labeled = (
        chain["s0"].select("doc_id", "len")
        .join(ex_ids, "doc_id", "left")
        .join(pre_ids, "doc_id", "left")
        .join(fp_ids, "doc_id", "left")
        .select(
            "doc_id",
            "len",
            F.when(F.col("_f1").isNotNull(), F.lit("exact_hash"))
            .when(F.col("_f2").isNotNull(), F.lit("prefix_subsumed"))
            .when(F.col("_f3").isNotNull(), F.lit("shingle_fingerprint"))
            .otherwise(F.lit("kept"))
            .alias("fate"),
        )
    )
    # r12: the 4-row fate rollup is consumed by the kept-baseline
    # broadcast AND the final readout — tier-materialized once
    g = tier(
        lambda labeled, qbp: labeled.join(qbp, "doc_id")
        .groupBy("fate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("qbp").cast("bigint").alias("sq"),
            F.sum("len").cast("bigint").alias("sl"),
        ),
        labeled,
        qbp,
    )
    kept = g.filter(F.col("fate") == "kept").select(
        F.col("sq").alias("ksq"), F.col("n_docs").alias("kn")
    )
    mean_q = F.col("sq").cast("double") / (10000.0 * F.col("n_docs"))
    kept_q = F.col("ksq").cast("double") / (10000.0 * F.col("kn"))
    return g.crossJoin(F.broadcast(kept)).select(
        "fate",
        "n_docs",
        fround(mean_q, 6).alias("mean_quality"),
        fround(F.col("sl").cast("double") / F.col("n_docs"), 2).alias("mean_len"),
        fround(mean_q - kept_q, 6).alias("quality_delta_vs_kept"),
    )


# ---------------------------------------------------------------------------
# t63 — winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
# algorithm): guarantee-based local fingerprint selection (round 8)
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # winnowing window: any match of >= w + 1 grams is guaranteed caught


@query(
    "t63_winnowing_fingerprints",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    g AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(ts) - 1),
                   i -> md5(ts[i] || ' ' || ts[i + 1])) AS h
        FROM t WHERE len(ts) >= {_WINNOW_W + 1}
    ),
    sel AS (
        SELECT doc_id, CAST(len(h) AS INTEGER) AS n_grams,
               list_distinct(list_transform(
                   generate_series(1, len(h) - {_WINNOW_W - 1}),
                   i -> list_min(h[i:i + {_WINNOW_W - 1}]))) AS fps
        FROM g
    )
    SELECT doc_id, n_grams,
           CAST(len(fps) AS INTEGER) AS n_selected,
           {sql_fround("CAST(len(fps) AS DOUBLE) / n_grams", 4)} AS density,
           list_min(fps) AS min_fp
    FROM sel
    """,
    doc=f"Winnowing document fingerprints (Schleimer, Wilkerson & Aiken "
    f"2003 — the MOSS local-selection algorithm): hash every token "
    f"2-gram, slide a window of w={_WINNOW_W} hashes, keep each "
    "window's minimum; the distinct minima are the fingerprint set. "
    "Unlike t04's single min-shingle (one hash per doc) or d01's "
    "MinHash rows (fixed-size sketch), winnowing GUARANTEES any "
    f"shared run of >= w+1 consecutive grams produces a shared "
    "fingerprint — the property plagiarism/near-dup detectors need. "
    "Expected density is 2/(w+1) = 0.4; the per-doc density column "
    "audits the guarantee/compression trade empirically. All inside "
    "per-row higher-order functions (sequence/transform/slice/"
    "array_min) — zero shuffle, zero UDF, embarrassingly parallel at "
    "100 TB; downstream pair-finding explodes ONLY the selected "
    "minima (a 60% gram discount before the first shuffle). "
    "Hash-checked against DuckDB computing identical windows.",
)
def t63_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    g = (
        d.select("doc_id", toks.alias("ts"))
        .filter(F.size("ts") >= _WINNOW_W + 1)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(ts) - 1), "
                "i -> md5(cast(concat(element_at(ts, i), ' ', "
                "element_at(ts, i + 1)) as binary)))"
            ).alias("h"),
        )
    )
    sel = g.select(
        "doc_id",
        F.size("h").alias("n_grams"),
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(h) - {_WINNOW_W - 1}), "
                f"i -> array_min(slice(h, i, {_WINNOW_W})))"
            )
        ).alias("fps"),
    )
    return sel.select(
        "doc_id",
        "n_grams",
        F.size("fps").alias("n_selected"),
        fround(F.size("fps").cast("double") / F.col("n_grams"), 4).alias("density"),
        F.array_min("fps").alias("min_fp"),
    )


# ---------------------------------------------------------------------------
# t64 — CCNet-style perplexity buckets (Wenzek et al. 2020): tercile the
# corpus by LM surprisal, report per-source composition (round 8)
# ---------------------------------------------------------------------------


@query(
    "t64_perplexity_buckets",
    oracle=f"""{_SQL_T23_SCORED},
    keyed AS (
        SELECT s.doc_id, s.q_bits // s.n_bigrams AS key,
               (s.q_bits // s.n_bigrams) // 10000 AS ckey, d.source
        FROM scored s JOIN documents d USING (doc_id)
    ),
    grid AS (SELECT ckey, CAST(COUNT(*) AS BIGINT) AS cnt FROM keyed GROUP BY ckey),
    cum AS (
        SELECT ckey, SUM(cnt) OVER (ORDER BY ckey) AS cum,
               SUM(cnt) OVER () AS n
        FROM grid
    ),
    f AS (
        SELECT MIN(CASE WHEN cum >= (n + 2) // 3 THEN ckey END) AS f1,
               MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN ckey END) AS f2
        FROM cum
    ),
    b AS (
        SELECT source,
               CASE WHEN ckey <= f1 THEN 'head'
                    WHEN ckey <= f2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               key
        FROM keyed CROSS JOIN f
    ),
    per AS (
        SELECT source, bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(key) AS BIGINT) AS sk
        FROM b GROUP BY 1, 2
    )
    SELECT source, bucket, n_docs,
           {sql_fround("CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY source)", 4)} AS doc_share,
           {sql_fround("CAST(sk AS DOUBLE) / n_docs / 1000000.0", 4)} AS avg_bits_per_bigram
    FROM per
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): score "
    "every document with the t23 bigram-LM surprisal, split the corpus "
    "into head/middle/tail TERCILES by that score, and report each "
    "source's composition across buckets — the standard web-corpus "
    "quality triage (head = most LM-like text kept, tail = candidate "
    "drop). Doc scores are exact integer 1e-6-bit surprisal-per-bigram "
    "(q_bits div n_bigrams); the tercile FENCE grid re-quantizes them "
    "to centibits (key div 10000), so the cumulative window walks a "
    "value grid bounded by the score RANGE (a few thousand distinct "
    "centibit cells however many documents exist — at micro-bit "
    "granularity distinct keys would grow ~one per doc and the global "
    "window would walk the population). Fences use the engine-wide "
    "exact integer ceil-division rank-block rule; ties land "
    "identically in both engines; the per-source average keeps full "
    "micro-bit precision. Scale: "
    "the LM counts shuffle on (w1,w2) with map-side combine, the "
    "fence frame is two scalars broadcast back, and the final rollup "
    "is sources x 3 rows.",
)
def t64_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    keyed = (
        _bigram_doc_bits(d)
        .select(
            "doc_id",
            F.expr("_qb div n_bigrams").alias("key"),
            F.expr("(_qb div n_bigrams) div 10000").alias("ckey"),
        )
        .join(d.select("doc_id", "source"), "doc_id")
    )
    grid = keyed.groupBy("ckey").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    nrow = grid.agg(F.sum("cnt").cast("bigint").alias("n"))
    # global window over the CENTIBIT value grid: distinct cells are
    # bounded by the score range (not the doc count — micro-bit keys
    # would be ~one per doc and the window would walk the population)
    cum = grid.select(
        "ckey", F.sum("cnt").over(W.orderBy("ckey")).alias("cum")
    ).crossJoin(F.broadcast(nrow))
    fences = cum.agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) div 3"), F.col("ckey"))
        ).alias("f1"),
        F.min(
            F.when(F.col("cum") >= F.expr("(2 * n + 2) div 3"), F.col("ckey"))
        ).alias("f2"),
    )
    bucketed = keyed.crossJoin(F.broadcast(fences)).select(
        "source",
        "key",
        F.when(F.col("ckey") <= F.col("f1"), F.lit("head"))
        .when(F.col("ckey") <= F.col("f2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    per = bucketed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("key").cast("bigint").alias("sk"),
    )
    ws = W.partitionBy("source")
    return per.select(
        "source",
        "bucket",
        "n_docs",
        fround(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(ws), 4
        ).alias("doc_share"),
        fround(F.col("sk").cast("double") / F.col("n_docs") / 1_000_000.0, 4).alias(
            "avg_bits_per_bigram"
        ),
    )


# ---------------------------------------------------------------------------
# d20 — winnowing match pairs: the MOSS pair stage on t63's fingerprints
# (round 8; t63's consumer)
# ---------------------------------------------------------------------------

_D20_DF_CAP = 50  # fingerprints seen in more docs are boilerplate — drop
_D20_MIN_SHARED = 3  # pairs must share >= 3 winnowed fingerprints


@query(
    "d20_winnowing_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    g AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(ts) - 1),
                   i -> md5(ts[i] || ' ' || ts[i + 1])) AS h
        FROM t WHERE len(ts) >= {_WINNOW_W + 1}
    ),
    sel AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(h) - {_WINNOW_W - 1}),
                   i -> list_min(h[i:i + {_WINNOW_W - 1}]))) AS fps
        FROM g
    ),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
    keep AS (
        SELECT fp FROM fp GROUP BY fp
        HAVING COUNT(*) <= {_D20_DF_CAP}
    ),
    fpk AS (SELECT doc_id, fp.fp FROM fp JOIN keep USING (fp)),
    nsel AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns FROM fpk GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS shared_fps
        FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_D20_MIN_SHARED}
    )
    SELECT doc_a, doc_b, shared_fps,
           {sql_fround("CAST(shared_fps AS DOUBLE) / LEAST(na.ns, nb.ns)", 4)} AS overlap
    FROM pairs
    JOIN nsel na ON na.doc_id = doc_a
    JOIN nsel nb ON nb.doc_id = doc_b
    """,
    doc="The MOSS match stage — t63's consumer (the m07->m08 pattern): "
    "explode each document's winnowed fingerprints, drop fingerprints "
    f"shared by more than {_D20_DF_CAP} documents (boilerplate, the "
    "d17/g07 document-frequency cap), and pair documents through a "
    "fingerprint EQUI-JOIN — work is bounded by true collisions "
    "(sum of df^2 over kept fingerprints), never all-pairs. The "
    f"winnowing guarantee makes >= {_D20_MIN_SHARED} shared "
    "fingerprints a high-precision overlap signal: any shared token "
    f"run of {_WINNOW_W + 1}+ grams MUST surface at least one shared "
    "fingerprint, so long plagiarized spans cannot hide (the property "
    "min-shingle sampling lacks). Overlap = shared / min(|fps_a|, "
    "|fps_b|) — the containment-style score MOSS reports. Scale: "
    "fingerprint grain shuffles only; the df cap bounds every bucket; "
    "the guarantee means recall does not depend on sketch luck.",
)
def d20_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_frame

    d = load_table(spark, sf_dir, "documents")
    tok = token_frame(d, "doc_id", "text")
    return _d20_pairs_from_tokens(tok)


def _d20_pairs_from_tokens(tok: DataFrame) -> DataFrame:
    """d20's fingerprint-pair stage over a pre-tokenized (_id, _tk)
    frame — split out so the d21 consensus shares ONE tokenize of the
    corpus across its three dedup families (see dedup.token_frame)."""
    sel = (
        tok.select(F.col("_id").alias("doc_id"), F.col("_tk").alias("ts"))
        .filter(F.size("ts") >= _WINNOW_W + 1)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(ts) - 1), "
                "i -> md5(cast(concat(element_at(ts, i), ' ', "
                "element_at(ts, i + 1)) as binary)))"
            ).alias("h"),
        )
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(h) - {_WINNOW_W - 1}), "
                    f"i -> array_min(slice(h, i, {_WINNOW_W})))"
                )
            ).alias("fps"),
        )
        # MATERIALIZATION BARRIER, load-bearing: exploding directly over
        # the computed fps expression makes Generate re-evaluate the
        # whole md5+window-min pipeline per OUTPUT element — measured
        # 236 s vs 1.5 s at sf0.1 (a repartition barrier does NOT help;
        # column pruning pushes the projection back above the exchange).
        .persist()
    )
    fp = sel.select("doc_id", F.explode("fps").alias("fp"))
    keep = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= _D20_DF_CAP)
        .select("fp")
    )
    fpk = fp.join(keep, "fp").persist()
    nsel = fpk.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("ns"))
    a = fpk.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fpk.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= _D20_MIN_SHARED)
    )
    na = nsel.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("_na"))
    nb = nsel.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("_nb"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            fround(
                F.col("shared_fps").cast("double")
                / F.least(F.col("_na"), F.col("_nb")),
                4,
            ).alias("overlap"),
        )
    )


# ---------------------------------------------------------------------------
# t65 — RAKE keyword extraction (Rose et al. 2010): stopword-delimited
# candidate phrases scored by word degree/frequency (round 8)
# ---------------------------------------------------------------------------

_RAKE_MAX_LEN = 4  # longer candidates are run-on noise (standard RAKE cap)
_RAKE_TOP = 25


@query(
    "t65_rake_keywords",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, i AS p, toks[i] AS tok,
               CAST(toks[i] IN ({_SQL_STOPS}) AS INTEGER) AS is_stop
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents) t,
             unnest(generate_series(1, len(toks))) u(i)
    ),
    grp AS (
        SELECT doc_id, p, tok, is_stop,
               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY p) AS g
        FROM pos
    ),
    phrases AS (
        SELECT doc_id, g,
               list_aggregate(list(tok ORDER BY p), 'string_agg', ' ') AS phrase,
               CAST(COUNT(*) AS BIGINT) AS plen
        FROM grp WHERE is_stop = 0
        GROUP BY doc_id, g
        HAVING COUNT(*) <= {_RAKE_MAX_LEN}
    ),
    words AS (
        SELECT doc_id, g, phrase, plen, unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ),
    wstat AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(plen) AS BIGINT) AS deg
        FROM words GROUP BY w
    ),
    wscore AS (SELECT w, (deg * 1000000) // freq AS sq FROM wstat),
    pscore AS (
        SELECT words.phrase, CAST(SUM(ws.sq) AS BIGINT) AS score_q
        FROM words JOIN wscore ws ON ws.w = words.w
        GROUP BY words.doc_id, words.g, words.phrase
    ),
    agg AS (
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MIN(score_q) AS BIGINT) AS score_q
        FROM pscore GROUP BY phrase
    )
    SELECT phrase, n_occurrences,
           {sql_fround("CAST(score_q AS DOUBLE) / 1000000.0", 4)} AS rake_score,
           CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, phrase) AS INTEGER) AS rn
    FROM agg
    ORDER BY score_q DESC, phrase
    LIMIT {_RAKE_TOP}
    """,
    doc="RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010): "
    "split each document into candidate phrases at stopword boundaries "
    f"(cap {_RAKE_MAX_LEN} tokens), score every word by degree/"
    "frequency over the candidate set (degree = summed length of the "
    "phrases it appears in — rewards words that co-occur in longer "
    "phrases), and score a phrase as the sum of its word scores — the "
    "classic unsupervised keyphrase extractor, a different family from "
    "t53's corpus-contrastive LLR keywords. Word scores are EXACT "
    "integer (deg*1e6) div freq so the phrase sum is order-"
    "independent; identical phrase texts share one score by "
    "construction (same words => same sum), so the corpus rollup "
    "takes MIN = the common value. Scale: phrase building is one "
    "doc-keyed window (bounded by doc length); word stats shuffle on "
    "the word grain; the final TopK is "
    "TakeOrderedAndProject-shaped. Top-"
    f"{_RAKE_TOP} with phrase tiebreak.",
)
def t65_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    stops = [s for s in X.STOPWORDS_EN]
    pos = d.select("doc_id", F.posexplode(toks).alias("p", "tok")).select(
        "doc_id",
        "p",
        "tok",
        F.col("tok").isin(stops).cast("int").alias("is_stop"),
    )
    wg = W.partitionBy("doc_id").orderBy("p")
    grp = pos.withColumn("g", F.sum("is_stop").over(wg))
    phrases = (
        grp.filter(F.col("is_stop") == 0)
        .groupBy("doc_id", "g")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
    )
    # every phrase INSTANCE keeps its (doc_id, g) identity through the
    # word explode so duplicate words inside one phrase count per
    # occurrence and duplicate phrase texts stay separate occurrences
    words = phrases.select(
        "doc_id", "g", "phrase", "plen", F.explode(F.split("phrase", " ")).alias("w")
    )
    wstat = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    wscore = wstat.select("w", F.expr("(deg * 1000000) div freq").alias("sq"))
    pscore = (
        words.join(wscore, "w")
        .groupBy("doc_id", "g", "phrase")
        .agg(F.sum("sq").cast("bigint").alias("score_q"))
    )
    agg = pscore.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("score_q").cast("bigint").alias("score_q"),
    )
    top = agg.orderBy(F.col("score_q").desc(), "phrase").limit(_RAKE_TOP)
    return top.select(
        "phrase",
        "n_occurrences",
        fround(F.col("score_q").cast("double") / 1_000_000.0, 4).alias("rake_score"),
        F.row_number()
        .over(W.orderBy(F.col("score_q").desc(), "phrase"))
        .alias("rn"),
    )


# ---------------------------------------------------------------------------
# t66 — Flesch–Kincaid readability (Kincaid et al. 1975): the classic
# syllable-heuristic quality feature, fully per-row (round 8)
# ---------------------------------------------------------------------------


@query(
    "t66_readability",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               GREATEST(1, len(list_filter(
                   string_split_regex(text, '[.!?]+'),
                   s -> len(trim(s)) > 0))) AS n_sentences,
               {_DUCK_TOKS} AS toks
        FROM documents
    ),
    counted AS (
        SELECT doc_id, n_sentences,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(list_reduce(list_prepend(0, list_transform(toks,
                   w -> GREATEST(1, len(regexp_extract_all(lower(w), '[aeiouy]+'))))),
                   (a, b) -> a + b) AS BIGINT) AS n_syllables
        FROM base WHERE len(toks) > 0
    )
    SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences, n_words, n_syllables,
           {sql_fround(
               "0.39 * (CAST(n_words AS DOUBLE) / n_sentences)"
               " + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59", 4
           )} AS fk_grade
    FROM counted
    """,
    doc="Flesch–Kincaid grade level (Kincaid et al. 1975) — the classic "
    "readability feature web-corpus quality filters add next to t06's "
    "length/punct ratios: sentences split on [.!?]+ runs, syllables "
    "counted as vowel-group runs per lowercased word (min 1, the "
    "standard heuristic), grade = 0.39*(words/sentence) + "
    "11.8*(syllables/word) - 15.59. Everything is per-row: two regex "
    "passes and integer HOF folds, zero shuffle, zero UDF — "
    "embarrassingly parallel at 100 TB, and the per-doc integer "
    "counts make the one double formula bit-identical across engines "
    "(Java regex and RE2 agree on these character-class patterns). "
    "Output is doc-grain so the oracle hashes every intermediate "
    "count, not just an aggregate.",
)
def t66_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    base = d.select(
        "doc_id",
        F.greatest(
            F.lit(1),
            F.size(
                F.filter(
                    F.split(F.col("text"), r"[.!?]+"),
                    lambda s: F.length(F.trim(s)) > 0,
                )
            ),
        ).alias("n_sentences"),
        toks.alias("toks"),
    ).filter(F.size("toks") > 0)
    counted = base.select(
        "doc_id",
        F.col("n_sentences").cast("bigint").alias("n_sentences"),
        F.size("toks").cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(
                F.col("toks"),
                lambda w: F.greatest(
                    F.lit(1),
                    F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0)),
                ),
            ),
            F.lit(0),
            lambda a, b: a + b,
        )
        .cast("bigint")
        .alias("n_syllables"),
    )
    fk = (
        0.39 * (F.col("n_words").cast("double") / F.col("n_sentences"))
        + 11.8 * (F.col("n_syllables").cast("double") / F.col("n_words"))
        - 15.59
    )
    return counted.select(
        "doc_id", "n_sentences", "n_words", "n_syllables", fround(fk, 4).alias("fk_grade")
    )


# ---------------------------------------------------------------------------
# t67 — interpolated Kneser–Ney bigram LM vs t23's add-alpha, per source
# (round 9)
# ---------------------------------------------------------------------------

_T67_D = 0.75  # absolute discount (the Chen & Goodman 1998 default)


# doc-grain Kneser-Ney bit totals — shared VERBATIM by t67's source
# rollup and t71's quality-agreement readout (the _S27_WITH pattern)
_SQL_KN_DOC = f"""{_SQL_T23_SCORED},
    n1w1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS f1 FROM bi GROUP BY w1),
    n1w2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS f2 FROM bi GROUP BY w2),
    ntypes AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM bi),
    kn AS MATERIALIZED (
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM(CAST(FLOOR(
                   -log2((bi.c2 - {_T67_D}) / uni.c1
                         + {_T67_D} * n1w1.f1 / uni.c1
                           * n1w2.f2 / ntypes.nt)
                   * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS kn_bits
        FROM big b
        JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
        JOIN uni ON b.w1 = uni.w1
        JOIN n1w1 ON b.w1 = n1w1.w1
        JOIN n1w2 ON b.w2 = n1w2.w2
        CROSS JOIN ntypes
        GROUP BY b.doc_id
    )"""


@query(
    "t67_kneser_ney",
    oracle=f"""{_SQL_KN_DOC},
    per AS (
        SELECT d.source,
               CAST(SUM(kn.nb) AS BIGINT) AS n_bigrams,
               CAST(SUM(kn.kn_bits) AS BIGINT) AS knb,
               CAST(SUM(s.q_bits) AS BIGINT) AS akb
        FROM kn
        JOIN scored s ON s.doc_id = kn.doc_id
        JOIN documents d ON d.doc_id = kn.doc_id
        GROUP BY d.source
    )
    SELECT source, n_bigrams,
           {sql_fround("CAST(knb AS DOUBLE) / n_bigrams / 1000000.0", 4)}
               AS kn_avg_bits,
           {sql_fround("CAST(akb AS DOUBLE) / n_bigrams / 1000000.0", 4)}
               AS addk_avg_bits,
           {sql_fround("(CAST(akb AS DOUBLE) - knb) / n_bigrams / 1000000.0", 4)}
               AS bits_saved
    FROM per
    """,
    doc="Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; Chen & "
    "Goodman 1998's winner) scored head-to-head against t23's "
    "add-alpha model on the same corpus, per source: P_KN(w2|w1) = "
    f"(c(w1w2) - D)/c(w1) + D*N1+(w1.)/c(w1) * Pcont(w2) with D = "
    f"{_T67_D}, where the continuation probability Pcont(w2) = "
    "N1+(.w2)/N1+(..) counts CONTEXTS (the 'San Francisco' insight: "
    "'Francisco' is frequent but follows one word, so its continuation "
    "mass is tiny). Observed bigrams always have c >= 1 > D, so the "
    "discount never clips and the formula stays branch-free. Every "
    "input is an exact integer count; each event's -log2 P quantizes "
    "to 1e-6 bits BEFORE the integer per-source sum (the engine float "
    "discipline), and bits_saved reports KN's per-bigram win over "
    "add-alpha — model comparison as a data-quality signal (high "
    "bits_saved = a source whose mass add-alpha misallocates). Scale: "
    "count frames shuffle on (w1, w2) / w1 / w2 vocab grains with "
    "map-side combine; the scoring join fans the fact ONCE against "
    "broadcast-sized vocab dims; output is sources x 5.",
)
def t67_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    kn = _kn_doc_bits(d)
    addk = _bigram_doc_bits(d).select("doc_id", F.col("_qb").alias("ak_bits"))
    per = (
        kn.join(addk, "doc_id")
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("nb").cast("bigint").alias("n_bigrams"),
            F.sum("kn_bits").cast("bigint").alias("knb"),
            F.sum("ak_bits").cast("bigint").alias("akb"),
        )
    )
    nb = F.col("n_bigrams")
    return per.select(
        "source",
        "n_bigrams",
        fround(F.col("knb").cast("double") / nb / 1_000_000.0, 4).alias("kn_avg_bits"),
        fround(F.col("akb").cast("double") / nb / 1_000_000.0, 4).alias(
            "addk_avg_bits"
        ),
        fround(
            (F.col("akb").cast("double") - F.col("knb")) / nb / 1_000_000.0, 4
        ).alias("bits_saved"),
    )


def _kn_doc_bits(d: DataFrame) -> DataFrame:
    """Doc-grain interpolated Kneser-Ney bit totals (doc_id, nb,
    kn_bits) — the shared stage behind t67's source rollup and t71's
    tercile-agreement readout (mirrors the _SQL_KN_DOC oracle text)."""
    toks = X.tokens(F.col("text"))
    big = (
        d.select("doc_id", toks.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("_t", 1, F.size("_t") - 1),
                    F.slice("_t", 2, F.size("_t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("_bg"),
        )
        .select("doc_id", F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    )
    uni = big.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    bi = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    n1w1 = bi.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("f1"))
    n1w2 = bi.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("f2"))
    ntypes = bi.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    kn_q = F.floor(
        -F.log2(
            (F.col("c2") - F.lit(_T67_D)) / F.col("c1")
            + F.lit(_T67_D) * F.col("f1") / F.col("c1")
            * F.col("f2") / F.col("nt")
        )
        * 1_000_000.0
        + F.lit(0.5)
    ).cast("bigint")
    return (
        big.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .join(F.broadcast(n1w1), "w1")
        .join(F.broadcast(n1w2), "w2")
        .crossJoin(F.broadcast(ntypes))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nb"),
            F.sum(kn_q).cast("bigint").alias("kn_bits"),
        )
    )


# ---------------------------------------------------------------------------
# t68 — Yule's K and Herdan's C vocabulary-richness constants per source
# (round 9)
# ---------------------------------------------------------------------------


@query(
    "t68_yule_k",
    oracle=f"""
    WITH tok AS (
        SELECT d.source, unnest({_DUCK_TOKS}) AS w
        FROM documents d
    ),
    tc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    per AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(c * c) AS BIGINT) AS sc2
        FROM tc GROUP BY source
    )
    SELECT source, n AS n_tokens, v AS n_types,
           {sql_fround("10000.0 * (CAST(sc2 AS DOUBLE) - n) / (CAST(n AS DOUBLE) * n)", 4)}
               AS yule_k,
           {sql_fround("ln(CAST(v AS DOUBLE)) / ln(CAST(n AS DOUBLE))", 6)}
               AS herdan_c
    FROM per
    """,
    doc="Yule's characteristic K (Yule 1944) and Herdan's C (Herdan "
    "1960) per source — the two classical vocabulary-richness "
    "constants that, unlike raw TTR (t61), are designed to be "
    "length-insensitive: K = 10^4 (SUM c^2 - N)/N^2 measures repeat "
    "probability (high K = repetitive/TEMPLATED text — a spam signal "
    "the quality stack reads alongside t13's repetition stats), and C "
    "= ln V / ln N is the Heaps-law exponent snapshot (t44 fits the "
    "full curve). Both collapse to exact integer (N, V, SUM c^2) off "
    "the (source, token) count grain — one explode + one map-side-"
    "combinable shuffle on the vocab grain, 20 output rows; doubles "
    "appear only at display, quantized 1e-4/1e-6.",
)
def t68_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(X.tokens(F.col("text"))).alias("w"))
    tc = tok.groupBy("source", "w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    per = tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    nd = F.col("n").cast("double")
    return per.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        fround(10_000.0 * (F.col("sc2").cast("double") - F.col("n")) / (nd * nd), 4)
        .alias("yule_k"),
        fround(F.log(F.col("v").cast("double")) / F.log(nd), 6).alias("herdan_c"),
    )


# ---------------------------------------------------------------------------
# t69 — Burrows' delta: stylometric distance between sources (round 9)
# ---------------------------------------------------------------------------

_T69_K = 30  # most-frequent corpus words form the function-word panel


@query(
    "t69_burrows_delta",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    cnts AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    totals AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnts GROUP BY 1
    ),
    panel AS (
        SELECT w FROM (
            SELECT w, ROW_NUMBER() OVER (
                ORDER BY CAST(SUM(c) AS BIGINT) DESC, w) AS rn
            FROM cnts GROUP BY w
        ) WHERE rn <= {_T69_K}
    ),
    f AS (
        SELECT t.source, p.w,
               COALESCE(c.c, 0) * 1000000000 // t.n AS fq
        FROM totals t CROSS JOIN panel p
        LEFT JOIN cnts c ON c.source = t.source AND c.w = p.w
    ),
    sig AS (
        SELECT w,
               CAST(COUNT(*) AS BIGINT) AS ns,
               CAST(SUM(fq) AS BIGINT) AS s1,
               CAST(SUM(fq * fq) AS BIGINT) AS s2
        FROM f GROUP BY w
    ),
    z AS (
        SELECT f.source, f.w, f.fq,
               SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / ns) / ns)
                   AS sd
        FROM f JOIN sig ON sig.w = f.w
    ),
    pair_terms AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(FLOOR(ABS(CAST(a.fq - b.fq AS DOUBLE)) / a.sd * 1000000.0
                          + 0.5) AS BIGINT) AS tq
        FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        WHERE a.sd > 0
    )
    SELECT source_a, source_b,
           {sql_fround(f"CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / {_T69_K} / 1000000.0", 6)}
               AS delta
    FROM pair_terms
    GROUP BY 1, 2
    """,
    doc="Burrows' delta (Burrows 2002; Evert et al. 2017's evaluation "
    "made it stylometry's baseline) between every pair of sources: "
    f"over the {_T69_K} most frequent corpus words (the function-word "
    "panel — style lives in 'the/of/and' rates, not content words), "
    "z-score each source's relative frequency against the across-"
    "source distribution and average |z_a - z_b| — the authorship/"
    "provenance distance a curation pipeline reads to spot a source "
    "whose 'style' suddenly shifts (scraper drift, template "
    "contamination, machine-generated infill). Engine discipline: "
    "relative frequencies are exact integer parts-per-billion "
    "(cnt*1e9 div total), the per-word mean/std come off exact "
    "integer (n, S1, S2), and each |f_a - f_b|/sd term — an "
    "identical IEEE op sequence in both engines — quantizes to 1e-6 "
    "BEFORE the 30-term pair sum, so summation order cannot flip "
    "the hash. Scale: the (source, token) rollup is the only data-"
    "sized stage; the panel is top-30 by corpus count (TakeOrdered-"
    "sized); pair terms are sources^2 x 30 rows; 45 output rows.",
)
def t69_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(X.tokens(F.col("text"))).alias("w"))
    cnts = tok.groupBy("source", "w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    totals = cnts.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    panel = (
        cnts.groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("tc"))
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("tc").desc(), "w"))
        )
        .filter(F.col("rn") <= _T69_K)
        .select("w")
    )
    f = (
        totals.crossJoin(F.broadcast(panel))
        .join(cnts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr("coalesce(c, 0) * 1000000000 div n").alias("fq"),
        )
    )
    sig = f.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("fq").cast("bigint").alias("s1"),
        F.sum(F.col("fq") * F.col("fq")).cast("bigint").alias("s2"),
    )
    z = f.join(F.broadcast(sig), "w").select(
        "source",
        "w",
        "fq",
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("ns")
            )
            / F.col("ns")
        ).alias("sd"),
    )
    a = z.select(F.col("source").alias("source_a"), "w", F.col("fq").alias("fa"), "sd")
    b = z.select(F.col("source").alias("source_b"), "w", F.col("fq").alias("fb"))
    terms = (
        a.join(b, "w")
        .filter((F.col("source_a") < F.col("source_b")) & (F.col("sd") > 0))
        .select(
            "source_a",
            "source_b",
            F.floor(
                F.abs((F.col("fa") - F.col("fb")).cast("double")) / F.col("sd")
                * 1_000_000.0
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("tq"),
        )
    )
    return terms.groupBy("source_a", "source_b").agg(
        fround(
            F.sum("tq").cast("bigint").cast("double") / _T69_K / 1_000_000.0,
            6,
        ).alias("delta")
    )


# ---------------------------------------------------------------------------
# t71 — do the KN language model and the heuristic quality score agree?
# Cohen's kappa between their doc terciles (round 9; t67 + t06 consumer)
# ---------------------------------------------------------------------------


@query(
    "t71_lm_quality_agreement",
    oracle=f"""{_SQL_KN_DOC},
    q AS MATERIALIZED (
        SELECT doc_id,
               CAST(FLOOR(quality * 10000.0 + 0.5) AS BIGINT) // 100 AS qk
        FROM ({QUERIES["t06_quality_score"].oracle}) tq
    ),
    lmk AS MATERIALIZED (SELECT doc_id, (kn_bits // nb) // 10000 AS lk FROM kn),
    lg AS (SELECT lk, CAST(COUNT(*) AS BIGINT) AS cnt FROM lmk GROUP BY lk),
    lc AS (SELECT lk, SUM(cnt) OVER (ORDER BY lk) AS cum,
                  SUM(cnt) OVER () AS n FROM lg),
    lf AS (SELECT MIN(CASE WHEN cum >= (n + 2) // 3 THEN lk END) AS f1,
                  MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN lk END) AS f2
           FROM lc),
    qg AS (SELECT qk, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM q JOIN lmk USING (doc_id) GROUP BY qk),
    qc AS (SELECT qk, SUM(cnt) OVER (ORDER BY qk) AS cum,
                  SUM(cnt) OVER () AS n FROM qg),
    qf AS (SELECT MIN(CASE WHEN cum >= (n + 2) // 3 THEN qk END) AS f1,
                  MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN qk END) AS f2
           FROM qc),
    b AS (
        SELECT CASE WHEN l.lk <= lf.f1 THEN 0
                    WHEN l.lk <= lf.f2 THEN 1 ELSE 2 END AS lb,
               CASE WHEN q.qk <= qf.f1 THEN 0
                    WHEN q.qk <= qf.f2 THEN 1 ELSE 2 END AS qb
        FROM lmk l JOIN q ON q.doc_id = l.doc_id
        CROSS JOIN lf CROSS JOIN qf
    ),
    ct AS (SELECT lb, qb, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN lb = qb THEN c ELSE 0 END) AS BIGINT)
                       AS na
            FROM ct),
    r AS (SELECT lb AS k, CAST(SUM(c) AS BIGINT) AS rk FROM ct GROUP BY lb),
    cc AS (SELECT qb AS k, CAST(SUM(c) AS BIGINT) AS ck FROM ct GROUP BY qb),
    pe AS (SELECT CAST(SUM(r.rk * cc.ck) AS BIGINT) AS pes
           FROM r JOIN cc ON cc.k = r.k)
    SELECT tot.n AS n_docs, tot.na AS n_agree,
           ROUND(CAST(tot.na AS DOUBLE) / tot.n, 6) AS p_agree,
           ROUND(CAST(pe.pes AS DOUBLE) / tot.n / tot.n, 6) AS p_chance,
           ROUND((CAST(tot.na AS DOUBLE) / tot.n
                  - CAST(pe.pes AS DOUBLE) / tot.n / tot.n)
                 / (1.0 - CAST(pe.pes AS DOUBLE) / tot.n / tot.n), 6) AS kappa
    FROM tot CROSS JOIN pe
    """,
    doc="Do the two quality signals agree on which documents are bad? "
    "Cohen's kappa (1960; the t60 machinery) between per-doc terciles "
    "of the Kneser-Ney LM's bits-per-bigram (t67's doc-grain stage, "
    "embedded VERBATIM — fluency as a model sees it) and of t06's "
    "heuristic quality score (length/stopword/token-shape rules) — "
    "the calibration readout a curation stack runs before replacing "
    "cheap heuristics with an LM filter, or before trusting either "
    "alone (low kappa = the two filters would delete DIFFERENT "
    "documents; Sharma et al.'s Dolma and the RefinedWeb ablations "
    "both hinge on exactly this disagreement). Engine discipline: LM "
    "keys are exact integer CENTIBITS per bigram (kn_bits div nb div "
    "1e4 — the t64 coarsened-grid lesson), heuristic keys exact "
    "integer centi-quality; tercile fences are (n+2) div 3 integer "
    "ceil-division cumulative fences; po/pe/kappa are identical IEEE "
    "expressions over exact cross-tab counts. Scale: the doc-grain KN "
    "stage is t67's (vocab-grain shuffles, broadcast count dims); the "
    "fence windows walk the bounded centibit/centi-quality GRIDS, "
    "never the doc population; 1 output row.",
)
def t71_lm_quality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    # r12 (guide §2.4): the KN chain (bigram explode + vocab joins)
    # feeds the fence grid, the t06 restriction, AND the bucket join —
    # and two of those consumers are broadcast builds that start
    # concurrently, so a lazy persist let them race and re-execute the
    # chain once per consumer (5.3 s solo at sf0.1). Both keyed frames
    # now ride the scratch-parquet frame tier: built once per process,
    # reloaded as a narrow scan after any clearCache.
    lmk = tier(
        lambda d: _kn_doc_bits(d).select(
            "doc_id", F.expr("(kn_bits div nb) div 10000").alias("lk")
        ),
        d,
    )
    # t06's plan is built inside the build (keyed by sf_dir), not
    # passed in: constructing it costs ~0.2 s, which a hit should not pay
    q = tier(
        lambda lmk, sf_dir: t06_quality_score(lmk.sparkSession, sf_dir)
        .select(
            "doc_id",
            F.expr("CAST(FLOOR(quality * 10000.0 + 0.5) AS BIGINT) div 100").alias("qk"),
        )
        .join(lmk.select("doc_id"), "doc_id"),
        lmk,
        sf_dir=sf_dir,
    )

    def fences(keyed: DataFrame, key: str) -> DataFrame:
        g = keyed.groupBy(key).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # global cumulative window over the BOUNDED key grid (centibit /
        # centi-quality cells), never the doc population
        cum = g.select(
            key,
            F.sum("cnt").over(W.orderBy(key)).alias("cum"),
            F.sum("cnt").over(W.partitionBy(F.lit(1))).alias("n"),
        )
        return cum.agg(
            F.min(F.when(F.col("cum") >= F.expr("(n + 2) div 3"), F.col(key))).alias(
                "f1"
            ),
            F.min(
                F.when(F.col("cum") >= F.expr("(2 * n + 2) div 3"), F.col(key))
            ).alias("f2"),
        )

    lf = fences(lmk, "lk")
    qf = fences(q, "qk")
    b = (
        lmk.join(q, "doc_id")
        .crossJoin(F.broadcast(lf))
        .crossJoin(F.broadcast(qf.select(F.col("f1").alias("g1"), F.col("f2").alias("g2"))))
        .select(
            F.when(F.col("lk") <= F.col("f1"), 0)
            .when(F.col("lk") <= F.col("f2"), 1)
            .otherwise(2)
            .alias("lb"),
            F.when(F.col("qk") <= F.col("g1"), 0)
            .when(F.col("qk") <= F.col("g2"), 1)
            .otherwise(2)
            .alias("qb"),
        )
    )
    ct = b.groupBy("lb", "qb").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = ct.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("lb") == F.col("qb"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("na"),
    )
    r = ct.groupBy(F.col("lb").alias("k")).agg(F.sum("c").cast("bigint").alias("rk"))
    cc = ct.groupBy(F.col("qb").alias("k")).agg(F.sum("c").cast("bigint").alias("ck"))
    pe = r.join(cc, "k").agg(
        F.sum(F.col("rk") * F.col("ck")).cast("bigint").alias("pes")
    )
    po = F.col("na").cast("double") / F.col("n")
    pc = F.col("pes").cast("double") / F.col("n") / F.col("n")
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            F.col("n").alias("n_docs"),
            F.col("na").alias("n_agree"),
            fround(po, 6).alias("p_agree"),
            fround(pc, 6).alias("p_chance"),
            fround((po - pc) / (1.0 - pc), 6).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# t72 — classical vocabulary-richness battery per source (round 10):
# Honoré's R, Sichel's S, Brunet's W — the hapax/dis-legomena readouts
# t68 (Yule K / Herdan C) and t44 (Heaps) do NOT cover
# ---------------------------------------------------------------------------


@query(
    "t72_vocab_richness",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    c AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY source, tok
    ),
    t AS (
        SELECT source,
               CAST(SUM(cnt) AS BIGINT)                               AS n,
               CAST(COUNT(*) AS BIGINT)                               AS v,
               CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
        FROM c GROUP BY source
    )
    SELECT source, n AS n_tokens, v AS vocab, v1 AS hapax, v2 AS dis_legomena,
           {sql_fround(
               "100.0 * ln(CAST(n AS DOUBLE))"
               " / (1.0 - CAST(v1 AS DOUBLE) / v)", 4
           )} AS honore_r,
           {sql_fround("CAST(v2 AS DOUBLE) / v", 6)} AS sichel_s,
           {sql_fround(
               "POWER(CAST(n AS DOUBLE), POWER(CAST(v AS DOUBLE), -0.165))", 4
           )} AS brunet_w
    FROM t
    """,
    doc="Per-source classical vocabulary-richness battery: Honoré's R = "
    "100·ln(N)/(1 − V1/V) (Honoré 1979 — rises with hapax share), "
    "Sichel's S = V2/V (Sichel 1975 — the dis-legomena proportion, "
    "famously stable across text sizes), and Brunet's W = N^(V^−0.165) "
    "(Brunet 1978 — FALLS with richness, the length-robust index "
    "stylometry defaults to). Completes the richness shelf next to "
    "t68's Yule K / Herdan C (frequency-moment views) and t44's Heaps "
    "exponent (growth view): these three are the HAPAX-SENSITIVE "
    "views — a source whose V1 share collapses under template "
    "boilerplate moves R and W long before K notices. N, V, V1, V2 "
    "are exact int64 from one (source, token) count shuffle, so both "
    "engines evaluate identical doubles through ln/pow; the only "
    "data-sized stage is the count rollup with map-side combine — "
    "Heaps'-law-safe, no vocab broadcast, no window.",
)
def t72_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    t = c.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("bigint").alias("v1"),
        F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).cast("bigint").alias("v2"),
    )
    dn = F.col("n").cast("double")
    dv = F.col("v").cast("double")
    return t.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab"),
        F.col("v1").alias("hapax"),
        F.col("v2").alias("dis_legomena"),
        fround(
            F.lit(100.0) * F.log(dn) / (F.lit(1.0) - F.col("v1").cast("double") / dv),
            4,
        ).alias("honore_r"),
        fround(F.col("v2").cast("double") / dv, 6).alias("sichel_s"),
        fround(F.pow(dn, F.pow(dv, F.lit(-0.165))), 4).alias("brunet_w"),
    )


# ---------------------------------------------------------------------------
# t73 — charset anomaly screen (round 10): the character-class hygiene
# pass a crawl pipeline runs before tokenization — non-[a-z ] bytes,
# whitespace-ratio outliers (2-sigma fence), oversized tokens
# ---------------------------------------------------------------------------

_T73_Q = 1_000_000  # 1e-6 space-ratio quantization (exact-int fence math)


@query(
    "t73_charset_anomaly_screen",
    oracle=f"""
    WITH per_doc AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS n,
               CAST(length(text) - length(replace(text, ' ', ''))
                   AS BIGINT) AS spaces,
               CAST(length(regexp_replace(text, '[a-z ]', '', 'g'))
                   AS BIGINT) AS nonword,
               CAST(COALESCE(list_max(list_transform({_DUCK_TOKS},
                   x -> length(x))), 0) AS BIGINT) AS max_tok
        FROM documents
    ),
    r AS (
        SELECT source, n, nonword, max_tok,
               CAST(FLOOR(CAST(spaces AS DOUBLE) / n * {_T73_Q} + 0.5)
                   AS BIGINT) AS ri
        FROM per_doc WHERE n > 0
    ),
    fence AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(ri) AS BIGINT) AS s,
               CAST(SUM(ri * ri) AS BIGINT) AS q
        FROM r
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN nonword > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonword_docs,
           CAST(SUM(CASE WHEN
                   (CAST(m AS DOUBLE) * ri - s) * (CAST(m AS DOUBLE) * ri - s)
                   > 4.0 * (CAST(m AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_space_outliers,
           CAST(MAX(max_tok) AS BIGINT) AS max_token_len,
           {sql_fround(
               f"CAST(SUM(ri) AS DOUBLE) / {_T73_Q} / COUNT(*)", 4
           )} AS avg_space_ratio
    FROM r CROSS JOIN fence
    GROUP BY source
    """,
    doc="Charset anomaly screen per source — the hygiene pass a crawl "
    "pipeline runs BEFORE tokenization: (1) docs containing any byte "
    "outside [a-z ] (mojibake/markup/control channel — zero on this "
    "clean synthetic corpus, the calibrated null readout like q111), "
    "(2) whitespace-ratio outliers under a corpus-wide 2-sigma fence "
    "(run-on text or space-stuffed spam), (3) the longest token seen "
    "per source (URL/base64 blobs masquerading as words). The fence "
    "is EXACT: ratios are 1e-6-quantized BIGINTs, the corpus moment "
    "frame (m, S=Σr, Q=Σr²) is one broadcast 1-row aggregate, and "
    "the outlier test (m·r − S)² > 4(mQ − S²) is the variance "
    "inequality multiplied through by m² — both engines evaluate the "
    "identical double expression from identical exact integers, so "
    "the fence can never flip the hash (at 100 TB the r² moments "
    "ride DECIMAL(38,0) partials, same plan). One scan, one 1-row "
    "broadcast, one per-source rollup — no window, no second pass.",
)
def t73_charset_anomaly_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text").cast("bigint")
    spaces = (F.length("text") - F.length(F.translate(F.col("text"), " ", ""))).cast(
        "bigint"
    )
    nonword = F.length(F.regexp_replace(F.col("text"), "[a-z ]", "")).cast("bigint")
    max_tok = F.coalesce(
        F.array_max(F.transform(X.tokens(F.col("text")), lambda x: F.length(x))),
        F.lit(0),
    ).cast("bigint")
    per_doc = d.select(
        "source",
        n.alias("n"),
        spaces.alias("spaces"),
        nonword.alias("nonword"),
        max_tok.alias("max_tok"),
    )
    r = per_doc.filter(F.col("n") > 0).select(
        "source",
        "nonword",
        "max_tok",
        F.floor(F.col("spaces").cast("double") / F.col("n") * _T73_Q + F.lit(0.5))
        .cast("bigint")
        .alias("ri"),
    )
    fence = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("ri").cast("bigint").alias("s"),
        F.sum(F.col("ri") * F.col("ri")).cast("bigint").alias("q"),
    )
    dm = F.col("m").cast("double")
    lhs = (dm * F.col("ri") - F.col("s")) * (dm * F.col("ri") - F.col("s"))
    rhs = F.lit(4.0) * (dm * F.col("q") - F.col("s").cast("double") * F.col("s"))
    return (
        r.crossJoin(F.broadcast(fence))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("nonword") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_nonword_docs"),
            F.sum(F.when(lhs > rhs, 1).otherwise(0))
            .cast("bigint")
            .alias("n_space_outliers"),
            F.max("max_tok").cast("bigint").alias("max_token_len"),
            fround(
                F.sum("ri").cast("double") / _T73_Q / F.count(F.lit(1)), 4
            ).alias("avg_space_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# t74 — character-bigram entropy per language (round 10): the
# byte-level signal under t07's word-level language-ID — char bigram
# distributions separate languages even on unseen vocabulary
# ---------------------------------------------------------------------------

_T74_Q = 1_000_000_000.0  # 1e-9 quantization of each -p·ln p term


def _char_bigram_counts(d: DataFrame) -> DataFrame:
    """Shared (lang, bigram) -> count frame behind t74 (entropy) and
    t76 (JS distance): the char-bigram explode is the only corpus-
    proportional pass either query makes, and each consumed it from
    3-4 plan subtrees (marginals, entropy terms, both self-join
    sides). r12: one build per process on the scratch-parquet tier
    (guide §2.4); output is alphabet²-bounded per language."""

    def build(d: DataFrame) -> DataFrame:
        bg = d.filter(F.length("text") >= 2).select(
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - 1),
                    lambda i: F.col("text").substr(i, F.lit(2)),
                )
            ).alias("b"),
        )
        return bg.groupBy("lang", "b").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))

    return tier(build, d)


@query(
    "t74_char_bigram_entropy",
    oracle=f"""
    WITH bg AS (
        SELECT lang, substring(text, CAST(i AS INTEGER), 2) AS b
        FROM (SELECT lang, text,
                     unnest(generate_series(1, length(text) - 1)) AS i
              FROM documents WHERE length(text) >= 2) src
    ),
    c2 AS (
        SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY lang, b
    ),
    t AS (
        SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS v2
        FROM c2 GROUP BY lang
    ),
    h2 AS (
        SELECT c2.lang,
               CAST(SUM(CAST(FLOOR(
                   -(CAST(cnt AS DOUBLE) / tot)
                   * ln(CAST(cnt AS DOUBLE) / tot) * {_T74_Q} + 0.5
               ) AS BIGINT)) AS BIGINT) AS qh2
        FROM c2 JOIN t USING (lang) GROUP BY c2.lang
    ),
    c1 AS (
        SELECT lang, substring(b, 1, 1) AS ch, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM c2 GROUP BY lang, substring(b, 1, 1)
    ),
    h1 AS (
        SELECT c1.lang,
               CAST(SUM(CAST(FLOOR(
                   -(CAST(cnt AS DOUBLE) / tot)
                   * ln(CAST(cnt AS DOUBLE) / tot) * {_T74_Q} + 0.5
               ) AS BIGINT)) AS BIGINT) AS qh1
        FROM c1 JOIN t USING (lang) GROUP BY c1.lang
    )
    SELECT t.lang, tot AS n_bigrams, v2 AS n_distinct_bigrams,
           {sql_fround(f"CAST(qh2 AS DOUBLE) / {_T74_Q}", 6)} AS bigram_entropy,
           {sql_fround(f"CAST(qh2 - qh1 AS DOUBLE) / {_T74_Q}", 6)} AS cond_entropy,
           {sql_fround(f"exp(CAST(qh2 AS DOUBLE) / {_T74_Q})", 4)} AS perplexity
    FROM t JOIN h2 USING (lang) JOIN h1 USING (lang)
    """,
    doc="Per-language character-bigram entropy — the byte-level "
    "language signature under t07's word-level stopword language-ID: "
    "H2 (Shannon entropy of the bigram distribution), the conditional "
    "next-char entropy H(c2|c1) = H2 − H1 via the chain rule (H1 is "
    "the first-char marginal derived from the SAME bigram counts, so "
    "no second corpus pass), and the bigram perplexity exp(H2) — "
    "Shannon's 1951 printed-English measurement run as a corpus "
    "rollup. Char n-gram profiles are the classic language-ID "
    "features (Cavnar & Trenkle 1994) precisely because they work on "
    "unseen vocabulary; a lang whose cond_entropy drifts between "
    "snapshots has changed register or picked up contamination. "
    "Every -p·ln p term is 1e-9-quantized before the per-lang sum "
    "(t51 discipline) so addition order can never flip the hash. "
    "Scale: bigram explosion is per-row HOF work (one substr lateral, "
    "no shuffle until the (lang, bigram) count — alphabet² keys max), "
    "then two KB-sized rollups; corpus-linear like t63.",
)
def t74_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    c2 = _char_bigram_counts(d)
    t = c2.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("v2"),
    )

    def qterm(cnt):
        p = cnt.cast("double") / F.col("tot")
        return F.floor(-p * F.log(p) * _T74_Q + F.lit(0.5)).cast("bigint")

    h2 = (
        c2.join(t.select("lang", "tot"), "lang")
        .select("lang", qterm(F.col("cnt")).alias("qt"))
        .groupBy("lang")
        .agg(F.sum("qt").cast("bigint").alias("qh2"))
    )
    c1 = c2.groupBy("lang", F.col("b").substr(1, 1).alias("ch")).agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    h1 = (
        c1.join(t.select("lang", "tot"), "lang")
        .select("lang", qterm(F.col("cnt")).alias("qt"))
        .groupBy("lang")
        .agg(F.sum("qt").cast("bigint").alias("qh1"))
    )
    qh2 = F.col("qh2").cast("double") / _T74_Q
    return (
        t.join(h2, "lang")
        .join(h1, "lang")
        .select(
            "lang",
            F.col("tot").alias("n_bigrams"),
            F.col("v2").alias("n_distinct_bigrams"),
            fround(qh2, 6).alias("bigram_entropy"),
            fround((F.col("qh2") - F.col("qh1")).cast("double") / _T74_Q, 6).alias(
                "cond_entropy"
            ),
            fround(F.exp(qh2), 4).alias("perplexity"),
        )
    )


# ---------------------------------------------------------------------------
# t75 — Theil's uncertainty coefficient between language and source
# (round 10): the INFORMATION-theoretic association pair next to
# q117's chi-square effect sizes — U(lang|source) answers "what
# fraction of language uncertainty does knowing the source remove?",
# and unlike V it is ASYMMETRIC (predicting lang from source is not
# predicting source from lang)
# ---------------------------------------------------------------------------

_T75_Q = 1_000_000_000.0  # 1e-9 quantization of each -p·ln p term


@query(
    "t75_uncertainty_coefficient",
    oracle=f"""
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    hl AS (
        SELECT CAST(SUM(CAST(FLOOR(
            -(CAST(cl AS DOUBLE) / n) * ln(CAST(cl AS DOUBLE) / n)
            * {_T75_Q} + 0.5) AS BIGINT)) AS BIGINT) AS q
        FROM (SELECT lang, CAST(SUM(c) AS BIGINT) AS cl FROM cells GROUP BY 1)
        CROSS JOIN tot
    ),
    hs AS (
        SELECT CAST(SUM(CAST(FLOOR(
            -(CAST(cs AS DOUBLE) / n) * ln(CAST(cs AS DOUBLE) / n)
            * {_T75_Q} + 0.5) AS BIGINT)) AS BIGINT) AS q
        FROM (SELECT source, CAST(SUM(c) AS BIGINT) AS cs
              FROM cells GROUP BY 1)
        CROSS JOIN tot
    ),
    hls AS (
        SELECT CAST(SUM(CAST(FLOOR(
            -(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
            * {_T75_Q} + 0.5) AS BIGINT)) AS BIGINT) AS q
        FROM cells CROSS JOIN tot
    )
    SELECT n AS n_docs,
           {sql_fround(f"CAST(hl.q AS DOUBLE) / {_T75_Q}", 6)} AS h_lang,
           {sql_fround(f"CAST(hs.q AS DOUBLE) / {_T75_Q}", 6)} AS h_source,
           {sql_fround(
               f"CAST(hl.q + hs.q - hls.q AS DOUBLE) / {_T75_Q}", 6
           )} AS mutual_info,
           {sql_fround(
               "CAST(hl.q + hs.q - hls.q AS DOUBLE) / hl.q", 6
           )} AS u_lang_given_source,
           {sql_fround(
               "CAST(hl.q + hs.q - hls.q AS DOUBLE) / hs.q", 6
           )} AS u_source_given_lang,
           {sql_fround(
               "2.0 * (hl.q + hs.q - hls.q) / (CAST(hl.q AS DOUBLE) + hs.q)", 6
           )} AS u_symmetric
    FROM tot CROSS JOIN hl CROSS JOIN hs CROSS JOIN hls
    """,
    doc="Theil's uncertainty coefficient between language and source "
    "(Theil 1970): U(lang|source) = I(lang;source)/H(lang), the "
    "fraction of language ENTROPY removed by knowing the source — "
    "the information-theoretic association reading next to q117's "
    "chi-square effect sizes, and ASYMMETRIC where Cramér's V is "
    "not (a source catalog that pins language is not a language "
    "that pins source). I = H(lang) + H(source) − H(lang,source) "
    "assembled from three entropy rollups over the SAME (lang, "
    "source) count grid — each -p·ln p term 1e-9-quantized before "
    "its sum (t51 discipline), and the three quantized entropies "
    "combine in INTEGER space before the single display division, "
    "so both engines agree bit-for-bit. Near-zero U here is the "
    "calibrated null (the generator assigns languages independently "
    "of source — t34's chi-square already failed to reject). Scale: "
    "one ~100-cell grid rollup with map-side combine; everything "
    "after is KB-sized.",
)
def t75_uncertainty_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))

    def qent(df, cnt_col):
        p = F.col(cnt_col).cast("double") / F.col("n")
        term = F.floor(-p * F.log(p) * _T75_Q + F.lit(0.5)).cast("bigint")
        return df.crossJoin(F.broadcast(tot)).agg(
            F.sum(term).cast("bigint").alias("q")
        )

    hl = qent(
        cells.groupBy("lang").agg(F.sum("c").cast("bigint").alias("cl")), "cl"
    ).select(F.col("q").alias("ql"))
    hs = qent(
        cells.groupBy("source").agg(F.sum("c").cast("bigint").alias("cs")), "cs"
    ).select(F.col("q").alias("qs"))
    hls = qent(cells, "c").select(F.col("q").alias("qls"))
    mi = F.col("ql") + F.col("qs") - F.col("qls")
    return (
        tot.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(hls))
        .select(
            F.col("n").alias("n_docs"),
            fround(F.col("ql").cast("double") / _T75_Q, 6).alias("h_lang"),
            fround(F.col("qs").cast("double") / _T75_Q, 6).alias("h_source"),
            fround(mi.cast("double") / _T75_Q, 6).alias("mutual_info"),
            fround(mi.cast("double") / F.col("ql"), 6).alias(
                "u_lang_given_source"
            ),
            fround(mi.cast("double") / F.col("qs"), 6).alias(
                "u_source_given_lang"
            ),
            fround(
                F.lit(2.0) * mi / (F.col("ql").cast("double") + F.col("qs")), 6
            ).alias("u_symmetric"),
        )
    )


# ---------------------------------------------------------------------------
# t76 — language distance matrix via char-bigram JS divergence
# (round 10): t74 measures each language's bigram ENTROPY; this
# measures how far the languages sit from EACH OTHER in bigram space —
# the Cavnar–Trenkle n-gram-profile distance that makes char-level
# language-ID work, as a corpus rollup
# ---------------------------------------------------------------------------


@query(
    "t76_lang_bigram_distance",
    oracle=f"""
    WITH bg AS (
        SELECT lang, substring(text, CAST(i AS INTEGER), 2) AS b
        FROM (SELECT lang, text,
                     unnest(generate_series(1, length(text) - 1)) AS i
              FROM documents WHERE length(text) >= 2) src
    ),
    c AS (
        SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2
    ),
    t AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot FROM c GROUP BY lang),
    p AS (
        SELECT c.lang, c.b, CAST(c.cnt AS DOUBLE) / t.tot AS p
        FROM c JOIN t ON c.lang = t.lang
    ),
    shared AS (
        SELECT a.lang AS lang_a, b2.lang AS lang_b,
               CAST(FLOOR((
                   0.5 * a.p * ln(a.p / ((a.p + b2.p) / 2))
                 + 0.5 * b2.p * ln(b2.p / ((a.p + b2.p) / 2))
                 - 0.5 * {_T47_LN2} * (a.p + b2.p)
               ) * {_T47_Q} + 0.5) AS BIGINT) AS q_term
        FROM p a JOIN p b2 ON a.b = b2.b AND a.lang < b2.lang
    ),
    sums AS (
        SELECT lang_a, lang_b, CAST(SUM(q_term) AS BIGINT) AS q
        FROM shared GROUP BY lang_a, lang_b
    ),
    pairs AS (
        SELECT a.lang AS lang_a, b2.lang AS lang_b
        FROM t a JOIN t b2 ON a.lang < b2.lang
    )
    SELECT pairs.lang_a, pairs.lang_b,
           {sql_fround(
               f"{_T47_LN2} + CAST(COALESCE(q, 0) AS DOUBLE) / {_T47_Q}", 6
           )} AS js_nats
    FROM pairs LEFT JOIN sums
      ON pairs.lang_a = sums.lang_a AND pairs.lang_b = sums.lang_b
    """,
    doc="Pairwise Jensen–Shannon divergence between the languages' "
    "character-BIGRAM distributions — the n-gram-profile distance "
    "(Cavnar & Trenkle 1994) that explains WHY char-level "
    "language-ID separates these languages, sitting beside t74 (each "
    "language's own bigram entropy) and t47 (token-level JS between "
    "SOURCES): languages pairs reading near ln2 share almost no "
    "bigram mass; a pair drifting toward 0 across corpus snapshots "
    "means cross-language contamination. Same shared-support "
    "identity as t47 (JS = ln2 + Σ_shared[term − 0.5·ln2·(pa+pb)]): "
    "an INNER equi-join on the (lang, bigram) count table, no "
    "densified alphabet² grid, ln2 pinned as the same IEEE literal "
    "on both engines, per-bigram terms 1e-9-quantized before the "
    "per-pair sum. Scale: the bigram explode is per-row HOF work; "
    "the count table is bounded by langs × alphabet², so the shared "
    "join and the 10-pair rollup are constant-size after the scan.",
)
def t76_lang_bigram_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    c = _char_bigram_counts(d)
    t = c.groupBy("lang").agg(F.sum("cnt").cast("bigint").alias("tot"))
    p = c.join(t, "lang").select(
        "lang", "b", (F.col("cnt").cast("double") / F.col("tot")).alias("p")
    )
    a = p.select(F.col("lang").alias("lang_a"), "b", F.col("p").alias("pa"))
    b2 = p.select(
        F.col("lang").alias("lang_b"),
        F.col("b").alias("b_b"),
        F.col("p").alias("pb"),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    term = (
        0.5 * F.col("pa") * F.log(F.col("pa") / m)
        + 0.5 * F.col("pb") * F.log(F.col("pb") / m)
        - 0.5 * _T47_LN2 * (F.col("pa") + F.col("pb"))
    )
    q_term = F.floor(term * _T47_Q + 0.5).cast("bigint")
    sums = (
        a.join(b2, (F.col("b") == F.col("b_b")) & (F.col("lang_a") < F.col("lang_b")))
        .select("lang_a", "lang_b", q_term.alias("q_term"))
        .groupBy("lang_a", "lang_b")
        .agg(F.sum("q_term").cast("bigint").alias("q"))
    )
    pairs = (
        t.select(F.col("lang").alias("lang_a"))
        .crossJoin(F.broadcast(t.select(F.col("lang").alias("lang_b"))))
        .filter(F.col("lang_a") < F.col("lang_b"))
    )
    return pairs.join(sums, ["lang_a", "lang_b"], "left").select(
        "lang_a",
        "lang_b",
        fround(
            _T47_LN2 + F.coalesce(F.col("q"), F.lit(0)).cast("double") / _T47_Q, 6
        ).alias("js_nats"),
    )
