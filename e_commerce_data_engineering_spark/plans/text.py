"""Text / training-data pipeline queries over ``documents``
(SURVEY §2.11): token stats, language stats, exact dedup, shingle
fingerprinting, n-gram Jaccard near-dup pairs, quality scoring,
language-ID. MinHash-LSH and SimHash (non-SQL-expressible banding) live
in ``operators/dedup.py`` with rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as X
from ..sources.tables import load_table
from .money import fround, sql_fround
from .registry import QUERIES, query

# DuckDB-side tokenization mirroring functions.text.tokens
_DUCK_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
# stopword IN-list generated from the SAME tuple the Spark side uses
_SQL_STOPS = X.sql_word_list(X.STOPWORDS_EN)


@query(
    "t01_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS INTEGER)                AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique,
           {sql_fround("CAST(list_reduce(list_transform(toks, x -> len(x)), (a, b) -> a + b) AS DOUBLE) / len(toks)", 4)} AS avg_token_len
    FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents) t
    """,
    doc="Per-doc token counting via higher-order functions (no UDF, no shuffle).",
)
def t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    return d.select(
        "doc_id",
        X.token_count(toks).alias("n_tokens"),
        X.unique_token_count(toks).alias("n_unique"),
        fround(
            X.total_chars(toks).cast("double") / X.token_count(toks), 4
        ).alias("avg_token_len"),
    )


@query(
    "t02_lang_source_stats",
    oracle=f"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT)                    AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)                AS total_chars,
           {sql_fround(f"CAST(SUM(len({_DUCK_TOKS})) AS DOUBLE) / COUNT(*)", 4)} AS avg_tokens
    FROM documents
    GROUP BY lang, source
    """,
    doc="Corpus composition rollup by language × source.",
)
def t02_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        fround(
            F.sum(F.size(X.tokens(F.col("text")))).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_tokens"),
    )


@query(
    "t03_exact_dedup",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(COUNT(*) AS BIGINT)  AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    """,
    doc="Exact dedup via content-hash groupBy: duplicate groups + the "
    "kept representative (min doc_id). SURVEY §2.11.",
)
def t03_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "t04_shingle_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_min(list_transform(
               generate_series(1, len(toks) - 2),
               i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           )) AS fingerprint
    FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents) t
    WHERE len(toks) >= 3
    """,
    doc="Rolling 3-gram shingle fingerprint (min-md5 = 1-perm MinHash): "
    "deterministic, portable doc signature.",
)
def t04_shingle_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    return (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", X.min_shingle_fingerprint(F.col("toks")).alias("fingerprint"))
    )


@query(
    "t05_ngram_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, list_distinct({_DUCK_TOKS}) AS ts
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {sql_fround("CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))", 4)} AS jaccard
    FROM toks a JOIN toks b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
          / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.5
    """,
    doc="Token-set Jaccard near-dup pairs within each source, via the "
    "same prefix-filtered exact set-similarity join as t09 (AllPairs/"
    "PPJoin) with `source` as an extra equi-key: candidates form only "
    "where rarest-token prefixes collide inside a source — never the "
    "O(n²) per-block self-join, so one hot source at 100× stays "
    "bounded by prefix-bucket occupancy (operators/setjoin.py). Bench "
    "context: the synthetic corpus's ~31-token vocabulary makes the "
    "true result quadratically dense within sources (random ~23-of-31 "
    "subsets at threshold 0.5), so bench time here is output-volume-"
    "bound; natural vocabularies make the same plan near-linear.",
)
def t05_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setjoin import jaccard_similarity_join

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_similarity_join(d, "doc_id", "text", 0.5, group_cols=["source"])
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        fround(F.col("jaccard"), 4).alias("jaccard"),
    )


@query(
    "t06_quality_score",
    oracle=f"""
    SELECT doc_id, n_tokens, stop_ratio, avg_token_len,
           {sql_fround("0.4 * LEAST(n_tokens / 20.0, 1.0) + 0.4 * (1.0 - stop_ratio) + 0.2 * LEAST(avg_token_len / 8.0, 1.0)", 4)} AS quality
    FROM (
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               {sql_fround(f"CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPS}))) AS DOUBLE) / len(toks)", 4)} AS stop_ratio,
               {sql_fround("CAST(list_reduce(list_transform(toks, x -> len(x)), (a,b) -> a+b) AS DOUBLE) / len(toks)", 4)} AS avg_token_len
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents) t
    ) m
    """,
    doc="Heuristic doc quality score: length coverage, stopword mass, "
    "token-length sanity (SURVEY §2.11 text analysis).",
)
def t06_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    m = d.select(
        "doc_id",
        X.token_count(toks).alias("n_tokens"),
        fround(X.stopword_count(toks).cast("double") / X.token_count(toks), 4).alias("stop_ratio"),
        fround(X.total_chars(toks).cast("double") / X.token_count(toks), 4).alias("avg_token_len"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "stop_ratio",
        "avg_token_len",
        X.quality_score(F.col("n_tokens"), F.col("stop_ratio"), F.col("avg_token_len")).alias(
            "quality"
        ),
    )


@query(
    "t07_lang_id",
    oracle=f"""
    SELECT lang,
           {X.sql_predict_lang("toks")} AS predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT lang, {_DUCK_TOKS} AS toks FROM documents) t
    GROUP BY 1, 2
    """,
    doc="Language-ID confusion counts (labeled lang × predicted): "
    "function-word-profile scoring over per-language marker tables "
    "(functions/text.LANG_MARKERS) — argmax of marker hits, ties by "
    "table precedence, no hits → unknown. The oracle CASE expression "
    "is generated from the same marker tables.",
)
def t07_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    return (
        d.select("lang", X.predict_lang(toks).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"  # BPE-style pre-tokenizer classes


@query(
    "t08_subword_tokens",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '{_BPE_RE}'))) AS BIGINT) AS subword_tokens,
           CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS ws_tokens,
           {sql_fround(f"CAST(SUM(len(regexp_extract_all(lower(text), '{_BPE_RE}'))) AS DOUBLE) / SUM(len({_DUCK_TOKS}))", 4)} AS subword_ratio
    FROM documents
    GROUP BY source
    """,
    doc="Token counting two ways (SURVEY §2.11): whitespace words vs a "
    "BPE-style regex pre-tokenization (letter runs / digit runs / "
    "punctuation singletons) — the ratio approximates tokens-per-word "
    "for budget estimation. Counts are exact ints; only the final "
    "ratio is floating point.",
)
def t08_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sub = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), F.lit(0)))
    ws = F.size(X.tokens(F.col("text")))
    return (
        d.select("source", sub.alias("_sub"), ws.alias("_ws"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_sub").alias("subword_tokens"),
            F.sum("_ws").alias("ws_tokens"),
            fround(F.sum("_sub").cast("double") / F.sum("_ws"), 4).alias("subword_ratio"),
        )
    )


T09_THRESHOLD = 0.8


@query(
    "t09_similarity_join",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_distinct({_DUCK_TOKS}) AS ts FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {sql_fround("CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))", 4)} AS jaccard
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
          / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= {T09_THRESHOLD}
    """,
    doc="Exact corpus-wide set-similarity join via prefix filtering "
    "(AllPairs/PPJoin): candidates only where rarest-token prefixes "
    "collide — identical output to the brute-force oracle without the "
    "O(n²) pair scan (operators/setjoin.py). Bench context: the "
    "driver's synthetic corpus has a ~31-token vocabulary, so docs are "
    "random ~23-of-31 subsets and ~3M of the 12.5M possible pairs at "
    "sf0.1 truly exceed 0.8 — the RESULT is quadratically dense by "
    "construction and bench time is output-volume-bound (~1M verified "
    "pairs/s), not plan-bound; on a natural-vocabulary corpus the "
    "prefix filter prunes candidates to near-linear.",
)
def t09_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setjoin import jaccard_similarity_join

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_similarity_join(d, "doc_id", "text", T09_THRESHOLD)
    return pairs.select("id_a", "id_b", fround(F.col("jaccard"), 4).alias("jaccard"))


QUOTA_PER_LANG = 40


@query(
    "t10_quota_sample",
    oracle=f"""
    SELECT lang, doc_id, source
    FROM (
        SELECT lang, doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ((doc_id % 2147483648) * 2654435761 + 7) % 2147483647, doc_id
               ) AS rk
        FROM documents
    ) t
    WHERE rk <= {QUOTA_PER_LANG}
    """,
    doc="Deterministic stratified quota sampling for corpus curation: "
    "k docs per language, chosen by hash order (stable across runs and "
    "partitionings — unlike sampleBy, which is partition-layout "
    "dependent). One window shuffle on the stratum key.",
)
def t10_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    # Neither engine's hash() matches the other's, so both sides rank
    # by the same explicit multiplicative hash (Knuth constant), with
    # doc_id reduced first so the multiply can't overflow int64 under
    # ANSI mode.
    h = F.pmod(F.pmod(F.col("doc_id"), F.lit(2**31)) * F.lit(2654435761) + 7, F.lit(2**31 - 1))
    rk = F.row_number().over(W.partitionBy("lang").orderBy(h, F.col("doc_id")))
    return (
        d.select("lang", "doc_id", "source", rk.alias("rk"))
        .filter(F.col("rk") <= QUOTA_PER_LANG)
        .drop("rk")
    )


_Q_NORM = (
    "sqrt(list_reduce(list_transform(generate_series(1, 64),"
    " i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a,b) -> a+b))"
)


@query(
    "t11_training_assembly",
    oracle=f"""
    WITH m AS (
        SELECT d.doc_id, d.lang, d.source,
               CAST(len({_DUCK_TOKS}) AS INTEGER) AS n_tokens,
               {sql_fround("CAST(len(list_filter(" + _DUCK_TOKS + ", x -> x IN (" + _SQL_STOPS + "))) AS DOUBLE) / len(" + _DUCK_TOKS + ")", 4)} AS stop_ratio,
               {sql_fround("CAST(list_reduce(list_transform(" + _DUCK_TOKS + ", x -> len(x)), (a,b) -> a+b) AS DOUBLE) / len(" + _DUCK_TOKS + ")", 4)} AS avg_token_len,
               {sql_fround(_Q_NORM, 4)} AS emb_norm,
               {_Q_NORM} AS raw_norm
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    )
    SELECT doc_id, lang, source, n_tokens,
           {sql_fround("0.4 * LEAST(n_tokens / 20.0, 1.0) + 0.4 * (1.0 - stop_ratio) + 0.2 * LEAST(avg_token_len / 8.0, 1.0)", 4)} AS quality,
           emb_norm
    FROM m
    WHERE n_tokens >= 10 AND raw_norm > 0.0
    """,
    doc="Training-example assembly: text quality metrics joined with the "
    "embedding-side hygiene check in one pass (documents ⋈ embeddings "
    "on id — co-partitionable at 100 TB by bucketing both on the id). "
    "This is the curation query a data pipeline runs before export.",
)
def t11_training_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import l2_norm

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    toks = X.tokens(F.col("text"))
    metrics = d.select(
        "doc_id",
        "lang",
        "source",
        X.token_count(toks).alias("n_tokens"),
        X.quality_score(
            X.token_count(toks),
            fround(X.stopword_count(toks).cast("double") / X.token_count(toks), 4),
            fround(X.total_chars(toks).cast("double") / X.token_count(toks), 4),
        ).alias("_q_raw"),
        fround(X.stopword_count(toks).cast("double") / X.token_count(toks), 4).alias("_stop"),
        fround(X.total_chars(toks).cast("double") / X.token_count(toks), 4).alias("_atl"),
    )
    emb = e.select("vec_id", l2_norm(F.col("embedding")).alias("_norm"))
    joined = metrics.join(emb, metrics.doc_id == emb.vec_id)
    return (
        joined.filter((F.col("n_tokens") >= 10) & (F.col("_norm") > 0.0))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            X.quality_score(F.col("n_tokens"), F.col("_stop"), F.col("_atl")).alias("quality"),
            fround(F.col("_norm"), 4).alias("emb_norm"),
        )
    )


SHARD_TOKEN_BUDGET = 2000


@query(
    "t12_token_budget_packing",
    oracle=f"""
    WITH c AS (
        SELECT doc_id, lang,
               CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
               SUM(CAST(len({_DUCK_TOKS}) AS BIGINT)) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM documents
    )
    SELECT lang,
           CAST(FLOOR((cum - n_tokens) / {SHARD_TOKEN_BUDGET}) AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM c
    GROUP BY 1, 2
    """,
    doc="Sequence-packing shard assignment: docs stream into fixed "
    "token-budget shards per language via running-sum window + floor "
    "division (each shard holds ~budget tokens; a doc starts a new "
    "shard when the budget would overflow at its start offset). The "
    "export-sharding step of a training pipeline — one window shuffle "
    "on the stratum key.",
)
def t12_token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    n = F.size(X.tokens(F.col("text"))).cast("bigint")
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = d.select("doc_id", "lang", n.alias("n_tokens")).withColumn("cum", F.sum("n_tokens").over(w))
    shard = F.floor((F.col("cum") - F.col("n_tokens")) / SHARD_TOKEN_BUDGET).cast("int")
    return (
        c.select("lang", shard.alias("shard"), "n_tokens")
        .groupBy("lang", "shard")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("shard_tokens"))
    )


@query(
    "t13_repetition_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ts) - 1),
                                     i -> ts[i] || ' ' || ts[i+1])) AS bg
        FROM toks WHERE len(ts) >= 2
    ),
    per AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT)   AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_unique_bigrams,
           {sql_fround("1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c)", 4)} AS dup_bigram_ratio,
           CAST(MAX(c) AS BIGINT)   AS top_bigram_n,
           {sql_fround("CAST(MAX(c) AS DOUBLE) / SUM(c)", 4)} AS top_bigram_ratio
    FROM per
    GROUP BY doc_id
    """,
    doc="Repetition-based quality signals (the Gopher-rules family): "
    "per-doc duplicate-bigram mass and most-frequent-bigram share — "
    "high values flag boilerplate/spam for corpus filtering. Explode "
    "bigrams → count per (doc, bigram) → per-doc rollup: two partial-"
    "aggregation-friendly shuffles keyed by doc, no UDF.",
)
def t13_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", X.tokens(F.col("text")).alias("_tk")).filter(
        F.size("_tk") >= 2
    )
    bi = base.select("doc_id", F.explode(X.shingles_zip(F.col("_tk"), 2)).alias("bg"))
    per = bi.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count("*").alias("n_unique_bigrams"),
        fround(1.0 - F.count(F.lit(1)).cast("double") / F.sum("c"), 4).alias(
            "dup_bigram_ratio"
        ),
        F.max("c").alias("top_bigram_n"),
        fround(F.max("c").cast("double") / F.sum("c"), 4).alias("top_bigram_ratio"),
    )


CONTAM_NGRAM = 8
CONTAM_BENCH_DOCS = 20  # doc_id < 20 stands in for the benchmark/eval set


@query(
    "t14_contamination_check",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(ts) - {CONTAM_NGRAM - 1}),
                   i -> md5(list_aggregate(ts[i:i+{CONTAM_NGRAM - 1}], 'string_agg', ' '))
               ))) AS g
        FROM toks WHERE len(ts) >= {CONTAM_NGRAM}
    ),
    bench  AS (SELECT doc_id AS bench_doc,  g FROM grams WHERE doc_id < {CONTAM_BENCH_DOCS}),
    corpus AS (SELECT doc_id AS corpus_doc, g FROM grams WHERE doc_id >= {CONTAM_BENCH_DOCS})
    SELECT corpus_doc, bench_doc, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM corpus JOIN bench USING (g)
    GROUP BY 1, 2
    """,
    doc="Benchmark-contamination screening: corpus docs sharing any "
    f"{CONTAM_NGRAM}-gram with the eval set (doc_id < "
    f"{CONTAM_BENCH_DOCS} stands in) — the standard n-gram-overlap "
    "decontamination pass before training. Inverted-index equi-join on "
    "hashed n-grams: shuffle volume tracks n-gram collisions (true "
    "contamination), never the corpus×bench cross product.",
)
def t14_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", X.tokens(F.col("text")).alias("_tk")).filter(
        F.size("_tk") >= CONTAM_NGRAM
    ).persist()
    grams = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.transform(X.shingles_zip(F.col("_tk"), CONTAM_NGRAM), F.md5))
        ).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") < CONTAM_BENCH_DOCS).select(
        F.col("doc_id").alias("bench_doc"), "g"
    )
    corpus = grams.filter(F.col("doc_id") >= CONTAM_BENCH_DOCS).select(
        F.col("doc_id").alias("corpus_doc"), "g"
    )
    return corpus.join(bench, "g").groupBy("corpus_doc", "bench_doc").agg(
        F.count("*").alias("n_shared_ngrams")
    )


@query(
    "t43_decontaminate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_DUCK_TOKS} AS ts FROM documents),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(ts) - {CONTAM_NGRAM - 1}),
                   i -> md5(list_aggregate(ts[i:i+{CONTAM_NGRAM - 1}], 'string_agg', ' '))
               ))) AS g
        FROM toks WHERE len(ts) >= {CONTAM_NGRAM}
    ),
    bench  AS (SELECT DISTINCT g FROM grams WHERE doc_id < {CONTAM_BENCH_DOCS}),
    corpus AS (SELECT doc_id, source, len(ts) AS n_tok FROM toks
               WHERE doc_id >= {CONTAM_BENCH_DOCS}),
    hit AS (
        SELECT DISTINCT gr.doc_id
        FROM grams gr JOIN bench USING (g)
        WHERE gr.doc_id >= {CONTAM_BENCH_DOCS}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(SUM(CASE WHEN hit.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN hit.doc_id IS NOT NULL THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_dropped,
           CAST(SUM(CASE WHEN hit.doc_id IS NULL THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_kept
    FROM corpus LEFT JOIN hit USING (doc_id)
    GROUP BY source
    """,
    doc="The decontamination REMOVAL half of t14's screen: corpus docs "
    f"sharing ANY {CONTAM_NGRAM}-gram with the eval set are dropped, "
    "and the per-source impact report (docs and tokens kept vs "
    "dropped) is what a curation run publishes before training. The "
    "hit set is one semi-join-shaped pass over the hashed n-gram "
    "inverted index — shuffle volume tracks true contamination, never "
    "corpus×bench — and the report is a left join against it, so "
    "sources with zero contamination still appear with full counts.",
)
def t43_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", "source", X.tokens(F.col("text")).alias("_tk"))
    grams = base.filter(F.size("_tk") >= CONTAM_NGRAM).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(X.shingles_zip(F.col("_tk"), CONTAM_NGRAM), F.md5)
            )
        ).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") < CONTAM_BENCH_DOCS).select("g").distinct()
    corpus = base.filter(F.col("doc_id") >= CONTAM_BENCH_DOCS).select(
        "doc_id", "source", F.size("_tk").alias("n_tok")
    )
    hit = (
        grams.filter(F.col("doc_id") >= CONTAM_BENCH_DOCS)
        .join(bench, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = corpus.join(hit, "doc_id", "left")
    is_hit = F.col("_hit").isNotNull()
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(is_hit.cast("int")).cast("bigint").alias("n_contaminated"),
        F.sum((~is_hit).cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(is_hit, F.col("n_tok")).otherwise(0)).cast("bigint").alias(
            "tokens_dropped"
        ),
        F.sum(F.when(~is_hit, F.col("n_tok")).otherwise(0)).cast("bigint").alias(
            "tokens_kept"
        ),
    )


SPLIT_VAL_PCT, SPLIT_TEST_PCT = 10, 10  # % of each stratum


@query(
    "t15_train_val_test_split",
    oracle=f"""
    WITH tagged AS (
        SELECT lang,
               CASE WHEN ((doc_id % 2147483648) * 2654435761 + 11) % 100 < {SPLIT_TEST_PCT} THEN 'test'
                    WHEN ((doc_id % 2147483648) * 2654435761 + 11) % 100 < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'train' END AS split
        FROM documents
    )
    SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM tagged GROUP BY 1, 2
    """,
    doc="Deterministic train/val/test assignment: each doc's split is a "
    "pure function of its id (multiplicative hash mod 100 against "
    "percentage cut-points) — stable across runs, partitionings, and "
    "engines, unlike randomSplit. The split column is computable at "
    "read time anywhere in the pipeline; output is the per-stratum "
    "audit rollup.",
)
def t15_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # same explicit hash as t10: engine-portable, overflow-safe under ANSI
    h = F.pmod(F.pmod(F.col("doc_id"), F.lit(2**31)) * F.lit(2654435761) + 11, F.lit(100))
    split = (
        F.when(h < SPLIT_TEST_PCT, "test")
        .when(h < SPLIT_TEST_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("train")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


_NUM_RE = "[0-9]+"
_CAPWORD_RE = "[A-Z][a-z]+"


@query(
    "t16_redaction_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_NUM_RE}')) AS INTEGER)     AS n_numbers,
           CAST(len(regexp_extract_all(text, '{_CAPWORD_RE}')) AS INTEGER) AS n_capwords,
           md5(regexp_replace(regexp_replace(text, '{_NUM_RE}', '<NUM>', 'g'),
                              '{_CAPWORD_RE}', '<NAME>', 'g'))             AS redacted_hash
    FROM documents
    """,
    doc="PII-style scrubbing pass (the shape of a real pre-training "
    "redaction job): count number-runs and capitalized-word tokens, "
    "then emit the hash of the text with both classes replaced by "
    "placeholder tags. Pure JVM regex per row, no shuffle; both "
    "engines run the identical pattern + replacement so the redacted "
    "hashes must agree.",
)
def t16_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _NUM_RE, "<NUM>"), _CAPWORD_RE, "<NAME>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_NUM_RE), F.lit(0))).alias("n_numbers"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_CAPWORD_RE), F.lit(0))).alias(
            "n_capwords"
        ),
        F.md5(redacted.cast("binary")).alias("redacted_hash"),
    )


# ---------------------------------------------------------------------------
# t20 — corpus duplicate-n-gram rate per source (dedup-quality metric)
# ---------------------------------------------------------------------------

DUPGRAM_N = 5


@query(
    "t20_dup_ngram_rate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_DUCK_TOKS} AS ts FROM documents),
    grams AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   generate_series(1, len(ts) - {DUPGRAM_N - 1}),
                   i -> md5(list_aggregate(ts[i:i+{DUPGRAM_N - 1}], 'string_agg', ' '))
               )) AS g
        FROM toks WHERE len(ts) >= {DUPGRAM_N}
    ),
    per_src AS (
        SELECT g, source, COUNT(*) AS cnt FROM grams GROUP BY 1, 2
    ),
    tagged AS (
        SELECT source, cnt, SUM(cnt) OVER (PARTITION BY g) AS total_cnt
        FROM per_src
    )
    SELECT source,
           CAST(SUM(CASE WHEN total_cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS dup_instances,
           CAST(SUM(cnt) AS BIGINT) AS total_instances,
           {sql_fround("CAST(SUM(CASE WHEN total_cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)"
                       " / CAST(SUM(cnt) AS DOUBLE)", 6)} AS dup_rate
    FROM tagged GROUP BY source
    """,
    doc=f"Duplicate-{DUPGRAM_N}-gram rate per source — the corpus-level "
    "dedup-quality metric of Lee et al. 2022 ('Deduplicating Training "
    "Data Makes Language Models Better', §4): what fraction of all "
    f"{DUPGRAM_N}-gram INSTANCES occur more than once corpus-wide. "
    "Positional n-grams (not per-doc distinct) so verbatim repeats "
    "count every time. Scale shape: n-grams pre-aggregate to "
    "(gram, source) counts BEFORE the global-count window, so the "
    "expensive shuffle moves one row per distinct (gram, source) — "
    "not one per instance — and the final rollup is 10-ish rows.",
)
def t20_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import fan_out
    from pyspark.sql import Window as W

    d = fan_out(load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", "source", X.tokens(F.col("text")).alias("_tk")).filter(
        F.size("_tk") >= DUPGRAM_N
    )
    grams = base.select(
        "source",
        F.explode(
            F.transform(X.shingles_zip(F.col("_tk"), DUPGRAM_N), F.md5)
        ).alias("g"),
    )
    per_src = grams.groupBy("g", "source").agg(F.count("*").alias("cnt"))
    tagged = per_src.withColumn("total_cnt", F.sum("cnt").over(W.partitionBy("g")))
    dup = F.sum(F.when(F.col("total_cnt") > 1, F.col("cnt")).otherwise(F.lit(0)))
    tot = F.sum("cnt")
    return tagged.groupBy("source").agg(
        dup.cast("bigint").alias("dup_instances"),
        tot.cast("bigint").alias("total_instances"),
        fround(dup.cast("double") / tot.cast("double"), 6).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# t21 — unigram log-prob scoring (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

_LP_Q = 1_000_000.0  # 1e-6 quantization for order-independent log sums


@query(
    "t21_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok
    ),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
    doc_tok AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS dcnt FROM tok GROUP BY doc_id, tok
    ),
    terms AS (
        SELECT d.doc_id,
               CAST(SUM(d.dcnt) AS BIGINT) AS n_tok,
               CAST(SUM(CAST(FLOOR(d.dcnt * log2(CAST(n.total AS DOUBLE) / v.cnt) * {_LP_Q} + 0.5) AS BIGINT)) AS BIGINT) AS q_bits
        FROM doc_tok d JOIN vocab v ON d.tok = v.tok CROSS JOIN n
        GROUP BY d.doc_id
    )
    SELECT doc_id, n_tok,
           {sql_fround(f"CAST(q_bits AS DOUBLE) / {_LP_Q} / n_tok", 4)} AS bits_per_token
    FROM terms
    """,
    doc="Unigram log-prob scoring (the CCNet/perplexity-proxy quality "
    "filter): average -log2 p(token) per document under the corpus's "
    "own unigram LM — fluent/common text scores low, rare-token noise "
    "scores high. Per-(doc,token) surprisal terms are quantized to "
    "1e-6 BIGINTs before the per-doc sum so float addition order "
    "cannot flip the hash; the vocabulary rollup is one shuffle, the "
    "doc rollup another, and the vocab join is broadcast-eligible "
    "whenever the LM fits (at 100 TB you precompute the LM table once "
    "and reuse it across scoring runs).",
)
def t21_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    doc_tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("dcnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    surprisal_q = F.floor(
        F.col("dcnt")
        * F.log2(F.col("total").cast("double") / F.col("cnt"))
        * _LP_Q
        + F.lit(0.5)
    ).cast("bigint")
    return (
        doc_tok.join(vocab, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("dcnt").alias("n_tok"),
            F.sum(surprisal_q).alias("_q_bits"),
        )
        .select(
            "doc_id",
            "n_tok",
            fround(F.col("_q_bits").cast("double") / _LP_Q / F.col("n_tok"), 4).alias(
                "bits_per_token"
            ),
        )
    )


# ---------------------------------------------------------------------------
# t22 — containment (near-subset) join
# ---------------------------------------------------------------------------

T22_THRESHOLD = 0.95


@query(
    "t22_containment_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_distinct({_DUCK_TOKS}) AS ts FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {sql_fround("CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / len(a.ts)", 4)} AS containment
    FROM t a JOIN t b ON a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / len(a.ts) >= {T22_THRESHOLD}
    """,
    doc="Directed near-subset pairs: token set of doc A ≥95% contained "
    "in doc B — the asymmetric primitive behind quote/excerpt "
    "detection, where symmetric Jaccard misses a short doc embedded in "
    "a long one. Prefix-filtered (only A's rarest tokens can start a "
    "match) with exact verification, identical output to the brute-"
    "force oracle (operators/setjoin.containment_join).",
)
def t22_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setjoin import containment_join

    d = load_table(spark, sf_dir, "documents")
    pairs = containment_join(d, "doc_id", "text", T22_THRESHOLD)
    return pairs.select(
        "id_a", "id_b", fround(F.col("containment"), 4).alias("containment")
    )


# ---------------------------------------------------------------------------
# t23 — bigram LM surprisal (smoothed conditional log-prob scoring)
# ---------------------------------------------------------------------------

_T23_ALPHA = 0.5  # add-alpha smoothing

# Shared WITH-prefix for the add-alpha bigram LM: per-doc exact bigram
# count and the 1e-6-quantized surprisal sum. t23 reports it directly;
# t64 buckets the corpus on it (CCNet-style) — one constant so the two
# oracles cannot drift.
_SQL_T23_SCORED = f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    big AS (
        SELECT doc_id, z[1] AS w1, z[2] AS w2
        FROM (
            SELECT doc_id,
                   unnest(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)])) AS z
            FROM t WHERE len(toks) >= 2
        )
    ),
    uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
    bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2),
    v AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS vocab FROM big),
    scored AS (
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(FLOOR(
                   -log2((bi.c2 + {_T23_ALPHA}) / (uni.c1 + {_T23_ALPHA} * v.vocab))
                   * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS q_bits
        FROM big b
        JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
        JOIN uni ON b.w1 = uni.w1
        CROSS JOIN v
        GROUP BY b.doc_id
    )"""


def _bigram_doc_bits(d: DataFrame) -> DataFrame:
    """Spark twin of ``_SQL_T23_SCORED``: (doc_id, n_bigrams, _qb) where
    _qb is the exact BIGINT sum of 1e-6-quantized -log2 p(w2|w1) terms
    under the corpus's own add-alpha bigram model."""
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
    uni = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bi = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    vocab = big.agg(F.countDistinct("w2").alias("vocab"))
    surprisal_q = F.floor(
        -F.log2(
            (F.col("c2") + F.lit(_T23_ALPHA))
            / (F.col("c1") + F.lit(_T23_ALPHA) * F.col("vocab"))
        )
        * 1_000_000.0
        + F.lit(0.5)
    ).cast("bigint")
    return (
        big.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(surprisal_q).alias("_qb"),
        )
    )


@query(
    "t23_bigram_logprob",
    oracle=f"""{_SQL_T23_SCORED}
    SELECT doc_id, n_bigrams,
           {sql_fround("CAST(q_bits AS DOUBLE) / 1000000.0 / n_bigrams", 4)} AS bits_per_bigram
    FROM scored
    """,
    doc="Bigram-LM surprisal scoring: average -log2 p(w2 | w1) per "
    "document under the corpus's own add-alpha-smoothed bigram model — "
    "the next step up from t21's unigram filter (catches shuffled-"
    "token gibberish that unigram statistics cannot). Conditional "
    "probabilities join the bigram and context counts; per-occurrence "
    "surprisals are quantized to 1e-6 BIGINTs before the per-doc sum "
    "so float addition order cannot flip the cross-engine hash. Two "
    "count shuffles + one scoring join, all broadcast-eligible when "
    "the LM fits.",
)
def t23_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        _bigram_doc_bits(d)
        .select(
            "doc_id",
            "n_bigrams",
            fround(F.col("_qb").cast("double") / 1_000_000.0 / F.col("n_bigrams"), 4).alias(
                "bits_per_bigram"
            ),
        )
    )


# ---------------------------------------------------------------------------
# t24 — fixed-stride context chunking (RAG / embedding-window primitive)
# ---------------------------------------------------------------------------

CHUNK_W = 64  # window tokens
CHUNK_S = 48  # stride (overlap = W - S = 16)


@query(
    "t24_context_chunks",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    chunks AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ts), {CHUNK_S})) AS start,
               ts
        FROM toks
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_S} AS INTEGER) AS chunk_idx,
           CAST(len(ts[start:start + {CHUNK_W - 1}]) AS INTEGER) AS n_chunk_tokens,
           md5(list_aggregate(ts[start:start + {CHUNK_W - 1}], 'string_agg', ' ')) AS chunk_hash
    FROM chunks
    """,
    doc=f"Fixed-stride context chunking: each document explodes into "
    f"{CHUNK_W}-token windows at stride {CHUNK_S} (overlap "
    f"{CHUNK_W - CHUNK_S}) — the windowing primitive an embedding/RAG "
    "indexing pipeline runs before vectorizing. Pure JVM HOFs (one "
    "sequence + posexplode + slice per doc, no shuffle until the "
    "caller aggregates); the md5 chunk fingerprint doubles as the "
    "chunk-level dedup key downstream. Hash-checked against DuckDB "
    "computing identical windows.",
)
def t24_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.size("ts"), F.lit(CHUNK_S))
    return (
        d.select("doc_id", toks.alias("ts"))
        .select("doc_id", "ts", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            F.size(F.slice("ts", F.col("start"), CHUNK_W)).alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", F.slice("ts", F.col("start"), CHUNK_W))).alias(
                "chunk_hash"
            ),
        )
    )


# ---------------------------------------------------------------------------
# t25 — mixture reweighting (temperature-based source sampling weights)
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.3  # temperature: alpha < 1 up-samples small sources
_QW = "1000000000.0"  # 1e-9 quantization for the order-independent pow sum


@query(
    "t25_mixture_weights",
    oracle=f"""
    WITH per_src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    powed AS (
        SELECT *,
               CAST(FLOOR(POWER(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) * {_QW} + 0.5)
                    AS BIGINT) AS pq
        FROM per_src
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
               CAST(SUM(pq) AS BIGINT) AS pq_total
        FROM powed
    )
    SELECT source, n_docs, n_tokens,
           {sql_fround("CAST(n_tokens AS DOUBLE) / tok_total", 6)} AS raw_share,
           {sql_fround("CAST(pq AS DOUBLE) / pq_total", 6)} AS mix_weight,
           {sql_fround("(CAST(pq AS DOUBLE) / pq_total) / (CAST(n_tokens AS DOUBLE) / tok_total)", 4)} AS oversample_factor
    FROM powed CROSS JOIN tot
    """,
    doc=f"Training-mixture reweighting: per-source sampling weights "
    f"T_s^α / Σ T_s^α at temperature α={MIX_ALPHA} — the data-mixing "
    "primitive (cf. multilingual temperature sampling / DoReMi-style "
    "reweighting): α<1 up-samples small sources relative to their raw "
    "token share. The powered masses are 1e-9-quantized to integers "
    "before the normalizing sum, so the weights are independent of "
    "aggregation order on both engines. One aggregate over the corpus; "
    "output is one row per source with raw share, mixture weight, and "
    "the oversampling factor a sampler must apply.",
)
def t25_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(X.tokens(F.col("text")))).alias("n_tokens"),
    )
    powed = per_src.withColumn(
        "pq",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA)) * F.lit(1e9)
            + F.lit(0.5)
        ).cast("bigint"),
    )
    tot = powed.agg(
        F.sum("n_tokens").alias("tok_total"), F.sum("pq").alias("pq_total")
    )
    raw_share = F.col("n_tokens").cast("double") / F.col("tok_total")
    mix_weight = F.col("pq").cast("double") / F.col("pq_total")
    return powed.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        fround(raw_share, 6).alias("raw_share"),
        fround(mix_weight, 6).alias("mix_weight"),
        fround(mix_weight / raw_share, 4).alias("oversample_factor"),
    )


@query(
    "t26_chunk_dup_rate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_DUCK_TOKS} AS ts FROM documents),
    chunks AS (
        SELECT doc_id, source,
               md5(list_aggregate(ts[start:start + {CHUNK_W - 1}], 'string_agg', ' ')) AS h
        FROM (SELECT doc_id, source, ts,
                     unnest(generate_series(1, len(ts), {CHUNK_S})) AS start
              FROM toks) t
    ),
    tagged AS (
        SELECT source, COUNT(*) OVER (PARTITION BY h) AS copies FROM chunks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           {sql_fround("CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS dup_chunk_rate
    FROM tagged GROUP BY source
    """,
    doc="Chunk-granularity duplication rate per source: how many of the "
    f"{CHUNK_W}-token context windows (t24's chunking, same stride/"
    "fingerprint) also occur elsewhere in the corpus — the number that "
    "decides whether a RAG/embedding store needs chunk-level dedup "
    "before vectorizing (every duplicate chunk is a wasted embedding "
    "call and a retrieval near-collision). Two aggregates over the "
    "chunk fingerprints; at 100 TB the copies count comes from the "
    "same groupBy the chunk-dedup keeper pass runs anyway.",
)
def t26_chunk_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.size("ts"), F.lit(CHUNK_S))
    chunks = (
        d.select("doc_id", "source", toks.alias("ts"))
        .select("doc_id", "source", "ts", F.explode(starts).alias("start"))
        .select(
            "source",
            F.md5(F.concat_ws(" ", F.slice("ts", F.col("start"), CHUNK_W))).alias("h"),
        )
    )
    copies = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("copies"))
    return (
        chunks.join(copies, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("copies") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
            fround(
                F.sum(F.when(F.col("copies") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("dup_chunk_rate"),
        )
    )


# ---------------------------------------------------------------------------
# t27 — DSIR data-selection importance weights
# ---------------------------------------------------------------------------

DSIR_B = 256  # hashed feature buckets
DSIR_TARGETS = ("src0", "src1", "src2", "src3", "src4")
_DSIR_TGT_SQL = ", ".join(f"'{s}'" for s in DSIR_TARGETS)


def _dsir_oracle() -> str:
    from ..operators.sketch import sql_portable_hash

    h = sql_portable_hash("bg")
    return f"""
    WITH bg AS (
        SELECT doc_id, source,
               unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS bg
        FROM (SELECT doc_id, source, {_DUCK_TOKS} AS tk FROM documents)
        WHERE len(tk) >= 2
    ),
    bkt AS (
        SELECT doc_id, source, ({h} % {DSIR_B}) AS b FROM bg
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN source IN ({_DSIR_TGT_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS T,
               CAST(SUM(CASE WHEN source NOT IN ({_DSIR_TGT_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS R
        FROM bkt
    ),
    per_b AS (
        SELECT b,
               CAST(SUM(CASE WHEN source IN ({_DSIR_TGT_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
               CAST(SUM(CASE WHEN source NOT IN ({_DSIR_TGT_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS r_b
        FROM bkt GROUP BY b
    ),
    lam AS (
        SELECT s.b,
               CAST(FLOOR(1000000.0 * (
                    log2(CAST(COALESCE(t_b, 0) + 1 AS DOUBLE) / (T + {DSIR_B}))
                  - log2(CAST(COALESCE(r_b, 0) + 1 AS DOUBLE) / (R + {DSIR_B}))
               ) + 0.5) AS BIGINT) AS lam_q
        FROM (SELECT unnest(range({DSIR_B})) AS b) s
        LEFT JOIN per_b USING (b) CROSS JOIN tot
    ),
    feat AS (
        SELECT doc_id, source, b, COUNT(*) AS c
        FROM bkt WHERE source NOT IN ({_DSIR_TGT_SQL}) GROUP BY 1, 2, 3
    )
    SELECT doc_id, source,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(SUM(c * lam_q) AS BIGINT) AS w_micro
    FROM feat JOIN lam USING (b)
    GROUP BY doc_id, source
    ORDER BY w_micro DESC, doc_id ASC
    LIMIT 100
    """


@query(
    "t27_dsir_weights",
    oracle=_dsir_oracle(),
    doc="DSIR-style data selection (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling'): hashed-bigram "
    "bag-of-ngrams features into 256 buckets (portable Horner hash), "
    "a smoothed unigram model over the buckets for the TARGET "
    "distribution (curated sources) and the RAW pool, and per-raw-doc "
    "log importance weight Σ c_b·(log p_target(b) − log p_raw(b)); "
    "top-100 raw docs selected. Per-bucket log-ratios are 1e-6-"
    "quantized to integers BEFORE the per-doc sum (the t21 trick), so "
    "the selection is aggregation-order independent and fully hash-"
    "checked. Scale shape: one explode+groupBy over bigrams, a 256-row "
    "broadcast λ table, and a TakeOrderedAndProject top-k — no shuffle "
    "grows with corpus size beyond the feature aggregate.",
)
def t27_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import portable_hash

    B = DSIR_B
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", "source", X.tokens(F.col("text")).alias("_tk"))
    bkt = tk.select(
        "doc_id",
        "source",
        F.explode(X.shingles_zip(F.col("_tk"), 2)).alias("bg"),
    ).select("doc_id", "source", (portable_hash(F.col("bg")) % B).alias("b"))
    is_t = F.col("source").isin(*DSIR_TARGETS)
    tot = bkt.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("T"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("R"),
    )
    per_b = bkt.groupBy("b").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("t_b"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("r_b"),
    )
    spine = spark.range(B).select(F.col("id").alias("b"))
    lam = (
        spine.join(per_b, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                F.lit(1e6)
                * (
                    F.log2(
                        (F.coalesce(F.col("t_b"), F.lit(0)) + 1).cast("double")
                        / (F.col("T") + B)
                    )
                    - F.log2(
                        (F.coalesce(F.col("r_b"), F.lit(0)) + 1).cast("double")
                        / (F.col("R") + B)
                    )
                )
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lam_q"),
        )
    )
    feat = (
        bkt.filter(~is_t)
        .groupBy("doc_id", "source", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        feat.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("c") * F.col("lam_q")).alias("w_micro"),
            F.sum("c").alias("n_bigrams"),
        )
    )
    return (
        w.select("doc_id", "source", "n_bigrams", "w_micro")
        .orderBy(F.col("w_micro").desc(), F.col("doc_id").asc())
        .limit(100)
    )


# ---------------------------------------------------------------------------
# t28 — priority sampling: weighted sample without replacement as top-k
# ---------------------------------------------------------------------------

T28_K = 50
_T28_P = 1_000_000_007  # portable-hash prime (operators/sketch._P1)
# affine post-mix: Horner folds of short numeric ids span only a tiny
# sub-range of [0, P); multiplying by a large constant mod P scatters
# that cluster uniformly (verified mean~0.5, sd~1/sqrt(12) in tests).
# All arithmetic stays exact int64: h < P ~ 1e9, h*MIX < 1.2e18.
_T28_MIX, _T28_ADD = 1_103_515_245, 12_345


@query(
    "t28_priority_sample",
    oracle=f"""
    WITH pri AS (
        SELECT doc_id, lang, n_chars,
               CAST(n_chars * {_T28_P} AS DOUBLE)
                 / ((list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
                                     c -> CAST(ascii(c) AS BIGINT))),
                      (a, c) -> (a * 31 + c) % {_T28_P})
                     * {_T28_MIX} + {_T28_ADD}) % {_T28_P} + 1) AS q
        FROM documents
    )
    SELECT doc_id, lang, n_chars,
           CAST(ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS BIGINT)
             AS sample_rank
    FROM pri
    ORDER BY q DESC, doc_id
    LIMIT {T28_K}
    """,
    doc="Priority sampling (Duffield, Lund & Thorup, JACM'07): a "
    "weighted sample-without-replacement of documents with inclusion "
    "probability rising in n_chars, computed as a TOP-K — priority "
    "q_i = w_i / u_i with u_i derived from the affine-mixed portable "
    "Horner hash of doc_id as (g+1)/P, so q_i = w_i*P/(g+1) is one IEEE division of "
    "exactly-representable integers (w*P < 2^53) and both engines order "
    "identically; ties broken by doc_id. No random state, no global "
    "sort: Catalyst executes the plan as TakeOrderedAndProject (per-"
    "partition heaps + driver merge), the shape that samples 100 TB "
    "without shuffling it — the mixture-sampling primitive t25's "
    "temperature weights feed at corpus-assembly time. The "
    "Horvitz-Thompson tau-threshold estimator built on this sample is "
    "property-tested (tests/test_operators.py).",
)
def t28_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.sketch import portable_hash

    d = load_table(spark, sf_dir, "documents")
    h = portable_hash(F.col("doc_id").cast("string"), 31, _T28_P)
    g = (h * F.lit(_T28_MIX) + F.lit(_T28_ADD)) % F.lit(_T28_P)
    pri = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (
            (F.col("n_chars").cast("bigint") * F.lit(_T28_P)).cast("double")
            / (g + F.lit(1)).cast("double")
        ).alias("q"),
    )
    top = pri.orderBy(F.col("q").desc(), "doc_id").limit(T28_K)
    # single-partition window is intentional: it runs on the top-K
    # frame above (TakeOrderedAndProject caps it at T28_K rows)
    w = W.orderBy(F.col("q").desc(), "doc_id")
    return top.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number().over(w).cast("bigint").alias("sample_rank"),
    )


# ---------------------------------------------------------------------------
# t29 — exact segment dedup with document reconstruction (C4-style)
# ---------------------------------------------------------------------------

SEG_W = 8  # non-overlapping segment width (tokens); stride == width


@query(
    "t29_segment_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    segs AS (
        SELECT doc_id,
               CAST((start - 1) / {SEG_W} AS INTEGER) AS seg_idx,
               list_aggregate(ts[start:start + {SEG_W - 1}], 'string_agg', ' ') AS seg,
               len(ts[start:start + {SEG_W - 1}]) AS seg_toks
        FROM (SELECT doc_id, ts,
                     unnest(generate_series(1, len(ts), {SEG_W})) AS start
              FROM toks) t
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
        FROM segs
    ),
    kept AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept_segs,
               CAST(SUM(seg_toks) AS BIGINT) AS kept_tokens,
               md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_md5
        FROM ranked WHERE rn = 1 GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs FROM segs GROUP BY doc_id
    )
    SELECT t.doc_id, n_segs,
           COALESCE(n_kept_segs, 0) AS n_kept_segs,
           COALESCE(kept_tokens, 0) AS kept_tokens,
           COALESCE(clean_md5, md5('')) AS clean_md5
    FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
    """,
    doc=f"Exact segment-level dedup with document reconstruction "
    f"(the C4 pipeline's span-dedup pass, Raffel et al. 2020): split "
    f"every document into non-overlapping {SEG_W}-token segments, keep "
    "only each distinct segment's FIRST corpus occurrence (min "
    "(doc_id, seg_idx) — deterministic, partition-independent), then "
    "reassemble each document from its surviving segments in order. "
    "Keeper selection is a groupBy-min on the segment hash plus an "
    "equi-join back — the partial-aggregation-friendly shape (NOT a "
    "window over the hash, whose per-key partitions skew under "
    "pathological mega-duplicated spans); reassembly is "
    "sort_array(collect_list) within each doc, bounded by document "
    "length. Output pins the reconstructed text via md5, so the oracle "
    "verifies byte-exact reassembly, not just counts.",
)
def t29_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedupe_segments

    d = load_table(spark, sf_dir, "documents")
    return dedupe_segments(d, "doc_id", "text", seg_w=SEG_W)


# ---------------------------------------------------------------------------
# t30 — BM25 ranked retrieval
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "join", "query")
BM25_K1, BM25_B = 1.2, 0.75
BM25_TOPN = 20
_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)


@query(
    "t30_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(ts)) AS BIGINT) AS sum_dl FROM toks
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf, ANY_VALUE(dl) AS dl
        FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM toks) t
        WHERE tok IN ({_BM25_IN})
        GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
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
    total AS (
        SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS score_q,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms_hit, score_q,
           CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank
    FROM total
    ORDER BY score_q DESC, doc_id
    LIMIT {BM25_TOPN}
    """,
    doc=f"BM25 ranked retrieval (Robertson-Spärck Jones probabilistic "
    f"weighting, k1={BM25_K1}, b={BM25_B}): top-{BM25_TOPN} documents "
    f"for the query {BM25_TERMS} — the lexical-search half of a RAG "
    "stack next to the s-family's vector half. tf/df/dl are exact "
    "integers from one explode+groupBy; per-(doc,term) scores are "
    "1e-9-quantized to integers BEFORE the per-doc sum (the t25 "
    "pow-precedent for the single libm call, ln), so ranking is an "
    "integer sort both engines replay identically; final ranking is "
    "top-N with doc_id tiebreak (TakeOrderedAndProject — no global "
    "sort). The IN-list term filter prunes the exploded token stream "
    "before any shuffle; at scale the tf frame is the standard "
    "inverted-index layout bucketed by term.",
)
def t30_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

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
    total = (
        j.select("doc_id", sq.alias("sq"))
        .groupBy("doc_id")
        .agg(F.sum("sq").alias("score_q"), F.count(F.lit(1)).alias("n_terms_hit"))
    )
    top = total.orderBy(F.col("score_q").desc(), "doc_id").limit(BM25_TOPN)
    # single-partition window is intentional: input is the top-N frame
    # above (TakeOrderedAndProject caps it at BM25_TOPN rows)
    w = W.orderBy(F.col("score_q").desc(), "doc_id")
    return top.select(
        "doc_id",
        "n_terms_hit",
        "score_q",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# t31 — mixture-quota corpus assembly (t25 weights × t28 sampling)
# ---------------------------------------------------------------------------

T31_TOTAL = 100  # target corpus size (docs)


@query(
    "t31_mixture_sample",
    oracle=f"""
    WITH per_src AS (
        SELECT source,
               CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    powed AS (
        SELECT source,
               CAST(FLOOR(POWER(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) * {_QW} + 0.5)
                    AS BIGINT) AS pq
        FROM per_src
    ),
    quota AS (
        SELECT source,
               CAST(FLOOR({sql_fround("CAST(pq AS DOUBLE) / (SELECT SUM(pq) FROM powed)", 6)}
                    * {T31_TOTAL} + 0.5) AS BIGINT) AS quota
        FROM powed
    ),
    pri AS (
        SELECT source, doc_id, n_chars,
               CAST(n_chars * {_T28_P} AS DOUBLE)
                 / ((list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
                                     c -> CAST(ascii(c) AS BIGINT))),
                      (a, c) -> (a * 31 + c) % {_T28_P})
                     * {_T28_MIX} + {_T28_ADD}) % {_T28_P} + 1) AS q
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, n_chars, quota,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY source ORDER BY q DESC, doc_id) AS BIGINT)
                 AS src_rank
        FROM pri JOIN quota USING (source)
    )
    SELECT source, doc_id, n_chars, quota, src_rank
    FROM ranked WHERE src_rank <= quota
    """,
    doc=f"Mixture-quota corpus assembly — the step that EXECUTES the "
    f"mixing plan: t25's temperature-{MIX_ALPHA} weights become "
    f"per-source quotas of a {T31_TOTAL}-doc target corpus (round-"
    "half-up of weight x total), and each source's quota is filled by "
    "its top-quota documents under t28's portable priority sampling — "
    "a weighted sample without replacement WITHIN each source. The "
    "per-source ranking is a window partitioned by source (bounded "
    "partitions; no global sort), the quota frame is a broadcast-"
    "sized dim. This is the t11/t25/t28 composition a real pretraining "
    "data pipeline ships: weights -> quotas -> deterministic, "
    "reproducible document picks, all hash-checked through the oracle.",
)
def t31_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.sketch import portable_hash

    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.size(X.tokens(F.col("text")))).alias("n_tokens")
    )
    powed = per_src.select(
        "source",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA)) * F.lit(1e9)
            + F.lit(0.5)
        ).cast("bigint").alias("pq"),
    )
    tot = powed.agg(F.sum("pq").alias("pq_total"))
    quota = powed.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(
            fround(F.col("pq").cast("double") / F.col("pq_total"), 6)
            * F.lit(T31_TOTAL)
            + F.lit(0.5)
        ).cast("bigint").alias("quota"),
    )
    h = portable_hash(F.col("doc_id").cast("string"), 31, _T28_P)
    g = (h * F.lit(_T28_MIX) + F.lit(_T28_ADD)) % F.lit(_T28_P)
    pri = d.select(
        "source",
        "doc_id",
        "n_chars",
        (
            (F.col("n_chars").cast("bigint") * F.lit(_T28_P)).cast("double")
            / (g + F.lit(1)).cast("double")
        ).alias("q"),
    )
    w = W.partitionBy("source").orderBy(F.col("q").desc(), "doc_id")
    ranked = (
        pri.join(F.broadcast(quota), "source")
        .withColumn("src_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("src_rank") <= F.col("quota"))
    )
    return ranked.select("source", "doc_id", "n_chars", "quota", "src_rank")


# ---------------------------------------------------------------------------
# t32 — cross-source n-gram overlap matrix
# ---------------------------------------------------------------------------

T32_N = 5  # n-gram length (tokens)


@query(
    "t32_source_overlap",
    oracle=f"""
    WITH toks AS (SELECT source, {_DUCK_TOKS} AS ts FROM documents),
    grams AS (
        SELECT DISTINCT source,
               md5(list_aggregate(ts[i:i + {T32_N - 1}], 'string_agg', ' ')) AS g
        FROM (SELECT source, ts,
                     unnest(generate_series(1, len(ts) - {T32_N - 1})) AS i
              FROM toks) t
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY source),
    ov AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS shared_ngrams
        FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, shared_ngrams,
           {sql_fround("CAST(shared_ngrams AS DOUBLE) / (sa.n + sb.n - shared_ngrams)", 6)}
             AS jaccard
    FROM ov JOIN sizes sa ON sa.source = src_a
            JOIN sizes sb ON sb.source = src_b
    """,
    doc=f"Cross-source contamination matrix: for every source pair, the "
    f"count and Jaccard of shared distinct {T32_N}-gram fingerprints — "
    "the corpus-health table that catches mirrored/scraped-twice "
    "content BETWEEN ingestion feeds before it inflates dedup work "
    "downstream (t14 screens documents against benchmarks; this "
    "screens feeds against each other). One distinct-gram frame, one "
    "self equi-join on the gram hash grouped to source pairs — at "
    "100 TB the gram frame buckets by hash and the matrix is "
    "|sources|² small. Pairs sharing nothing are absent (sparse "
    "output), asserted identically by the oracle.",
)
def t32_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.size("ts") - F.lit(T32_N - 1))
    grams = (
        d.select("source", toks.alias("ts"))
        .filter(F.size("ts") >= T32_N)
        .select("source", F.explode(starts).alias("i"), "ts")
        .select(
            "source",
            F.md5(F.concat_ws(" ", F.slice("ts", F.col("i"), T32_N))).alias("g"),
        )
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("source").alias("src_a"), "g")
    b = grams.select(F.col("source").alias("src_b"), F.col("g").alias("_g2"))
    ov = (
        a.join(b, (a["g"] == b["_g2"]) & (a["src_a"] < b["src_b"]))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("_na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("_nb"))
    return (
        ov.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_ngrams",
            fround(
                F.col("shared_ngrams").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("shared_ngrams")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "t33_dup_cluster_histogram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    segs AS (
        SELECT md5(list_aggregate(ts[start:start + {SEG_W - 1}], 'string_agg', ' ')) AS h
        FROM (SELECT doc_id, ts,
                     unnest(generate_series(1, len(ts), {SEG_W})) AS start
              FROM toks) t
    ),
    clusters AS (
        SELECT h, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM segs GROUP BY h
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * cluster_size AS BIGINT) AS n_segments,
           CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS n_removable
    FROM clusters GROUP BY cluster_size
    """,
    doc="Duplicate-cluster size histogram at segment granularity (the "
    "t29 segmentation): exact segment clusters rolled into a size "
    "distribution with the removable count per tier — the one-page "
    "dedup report that sizes the span-dedup cleanup BEFORE running "
    "it (sum of n_removable = exactly the segments t29 drops, "
    "asserted in tests), and the exact-dedup mirror of SCALING.md's "
    "K-deep duplicate-group analysis. Two aggregates, no joins; at "
    "100 TB this is the same shuffle the dedup itself pays, reused "
    "for reporting.",
)
def t33_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.size("ts"), F.lit(SEG_W))
    segs = (
        d.select(toks.alias("ts"))
        .select(F.explode(starts).alias("start"), "ts")
        .select(F.md5(F.concat_ws(" ", F.slice("ts", F.col("start"), SEG_W))).alias("h"))
    )
    clusters = segs.groupBy("h").agg(F.count(F.lit(1)).alias("cluster_size"))
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_segments"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1)).alias("n_removable"),
    )


@query(
    "t34_lang_source_chi2",
    oracle=f"""
    WITH obs AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ),
    rows_ AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY lang),
    cols_ AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY source),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    cells AS (
        SELECT CAST(FLOOR(
                 (o - CAST(rt * ct AS DOUBLE) / n)
                 * (o - CAST(rt * ct AS DOUBLE) / n)
                 / (CAST(rt * ct AS DOUBLE) / n)
                 * 1000000000.0 + 0.5) AS BIGINT) AS cq
        FROM obs JOIN rows_ USING (lang) JOIN cols_ USING (source) CROSS JOIN tot
    ),
    dims AS (
        SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS c
        FROM documents
    )
    SELECT n,
           (r - 1) * (c - 1) AS dof,
           {sql_fround("CAST(SUM(cq) AS DOUBLE) / 1000000000.0", 4)} AS chi2,
           {sql_fround(
               "SQRT((CAST(SUM(cq) AS DOUBLE) / 1000000000.0)"
               " / (n * LEAST(r - 1, c - 1)))", 6)} AS cramers_v
    FROM cells CROSS JOIN tot CROSS JOIN dims
    GROUP BY n, r, c
    """,
    doc="Chi-square test of independence between language and source "
    "(contingency-table analytics — the statistical-testing family): "
    "observed cell counts vs expected rt*ct/n, per-cell contributions "
    "1e-9-quantized before the integer sum (the e15 discipline; the "
    "only floats are IEEE divisions of exact integers and one "
    "correctly-rounded sqrt for Cramér's V). A materially nonzero "
    "V here means the corpus's language mix differs by feed — the "
    "check that catches a mis-tagged ingestion source before t25's "
    "mixture weights bake the skew in. One groupBy + two broadcast "
    "marginals; the contingency table is |langs|x|sources| small.",
)
def t34_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rows_ = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols_ = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("n"))
    dims = d.agg(
        F.countDistinct("lang").alias("r"), F.countDistinct("source").alias("c")
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    cq = F.floor(
        (F.col("o") - e) * (F.col("o") - e) / e * F.lit(1000000000.0) + F.lit(0.5)
    ).cast("bigint")
    cells = (
        obs.join(F.broadcast(rows_), "lang")
        .join(F.broadcast(cols_), "source")
        .crossJoin(F.broadcast(tot))
        .select(cq.alias("cq"), "n")
    )
    chi2 = F.sum("cq").cast("double") / F.lit(1000000000.0)
    return (
        cells.groupBy("n")
        .agg(chi2.alias("_chi2"))
        .crossJoin(F.broadcast(dims))
        .select(
            "n",
            ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
            fround(F.col("_chi2"), 4).alias("chi2"),
            fround(
                F.sqrt(F.col("_chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))),
                6,
            ).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# t35 — Zipf rank-frequency fit
# ---------------------------------------------------------------------------

T35_TOP = 40  # fit over the top-N tokens (the Zipfian head)


@query(
    "t35_zipf_fit",
    oracle=f"""
    WITH tf AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_DUCK_TOKS}) AS tok FROM documents) t
        GROUP BY tok
    ),
    ranked AS (
        SELECT tok, freq,
               CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rnk
        FROM tf ORDER BY freq DESC, tok LIMIT {T35_TOP}
    ),
    pts AS (
        SELECT CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS xq,
               CAST(FLOOR(ln(CAST(freq AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS yq
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
               CAST(SUM(xq * xq // 1000000) AS BIGINT) AS sxx,
               CAST(SUM(xq * yq // 1000000) AS BIGINT) AS sxy
        FROM pts
    )
    SELECT n,
           {sql_fround(
               "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy / 1000000.0)"
               " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx / 1000000.0)",
               6)} AS zipf_slope,
           {sql_fround("CAST(sy AS DOUBLE) / n / 1000000.0", 6)} AS mean_log_freq
    FROM s
    """,
    doc=f"Zipf's-law fit over the top-{T35_TOP} token frequencies: OLS "
    "slope of log(freq) on log(rank) — natural text sits near -1, and "
    "a head slope far from it flags TEMPLATED/machine-generated "
    "content before it poisons dedup thresholds and LM-filter "
    "calibration (t13's repetition stats catch within-doc loops; this "
    "catches corpus-level distribution collapse). The two ln() calls "
    "are 1e-6-quantized per point (1e-9 overflows the int64 moment products: ln(freq)*1e9 squared exceeds 2^63); the OLS moments are exact integer "
    "sums of quantized products (each xq*yq < 2^62), so both engines "
    "compute the identical regression. One explode+groupBy for term "
    "frequencies, a top-N (tiny), and one moment aggregate.",
)
def t35_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = tf.orderBy(F.col("freq").desc(), "tok").limit(T35_TOP)
    # single-partition window is intentional: input is the top-T35_TOP
    # vocabulary slice (TakeOrderedAndProject-capped)
    w = W.orderBy(F.col("freq").desc(), "tok")
    ranked = top.select("freq", F.row_number().over(w).cast("bigint").alias("rnk"))
    xq = F.floor(F.log(F.col("rnk").cast("double")) * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    yq = F.floor(F.log(F.col("freq").cast("double")) * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    pts = ranked.select(xq.alias("xq"), yq.alias("yq"))
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.expr("xq * xq div 1000000")).alias("sxx"),
        F.sum(F.expr("xq * yq div 1000000")).alias("sxy"),
    )
    slope = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy") / F.lit(1e6)
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx") / F.lit(1e6)
    )
    return s.select(
        "n",
        fround(slope, 6).alias("zipf_slope"),
        fround(F.col("sy").cast("double") / F.col("n") / F.lit(1e6), 6).alias(
            "mean_log_freq"
        ),
    )


@query(
    "t36_langid_prf",
    oracle=f"""
    WITH conf AS (
        SELECT lang,
               {X.sql_predict_lang("toks")} AS pred,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT lang, {_DUCK_TOKS} AS toks FROM documents) t
        GROUP BY 1, 2
    ),
    labels AS (SELECT DISTINCT lang FROM conf),
    stats AS (
        SELECT l.lang,
               CAST(COALESCE(SUM(CASE WHEN c.lang = l.lang AND c.pred = c.lang
                                      THEN c.n END), 0) AS BIGINT) AS tp,
               CAST(COALESCE(SUM(CASE WHEN c.pred = l.lang AND c.lang <> c.pred
                                      THEN c.n END), 0) AS BIGINT) AS fp,
               CAST(COALESCE(SUM(CASE WHEN c.lang = l.lang AND c.pred <> c.lang
                                      THEN c.n END), 0) AS BIGINT) AS fn
        FROM labels l CROSS JOIN conf c
        GROUP BY l.lang
    )
    SELECT lang, tp, fp, fn,
           {sql_fround("CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END", 6)} AS precision_,
           {sql_fround("CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END", 6)} AS recall_,
           {sql_fround(
               "CASE WHEN 2 * tp + fp + fn > 0"
               " THEN 2.0 * tp / (2 * tp + fp + fn) ELSE 0.0 END", 6)} AS f1
    FROM stats
    """,
    doc="Classifier-evaluation metrics over the t07 language-ID "
    "confusion matrix: per-language true/false positives and "
    "negatives folded into precision, recall, and F1 (the 2tp/(2tp+"
    "fp+fn) form — zero-guarded, exact-integer ratios) — the eval "
    "layer any in-pipeline classifier (lang-ID, quality filter, PII "
    "tagger) needs before its verdicts gate data. All joins are on "
    "the |labels|-sized frames; the corpus is touched once by the "
    "confusion aggregate.",
)
def t36_langid_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    conf = (
        d.select("lang", X.predict_lang(toks).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    labels = conf.select("lang").distinct()
    tp = (
        conf.filter(F.col("pred") == F.col("lang"))
        .groupBy("lang")
        .agg(F.sum("n").alias("tp"))
    )
    fp = (
        conf.filter(F.col("pred") != F.col("lang"))
        .groupBy(F.col("pred").alias("lang"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        conf.filter(F.col("pred") != F.col("lang"))
        .groupBy("lang")
        .agg(F.sum("n").alias("fn"))
    )
    j = (
        labels.join(tp, "lang", "left")
        .join(fp, "lang", "left")
        .join(fn, "lang", "left")
        .select(
            "lang",
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            F.coalesce(F.col("fp"), F.lit(0)).alias("fp"),
            F.coalesce(F.col("fn"), F.lit(0)).alias("fn"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
    ).otherwise(F.lit(0.0))
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        F.lit(2.0) * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
    ).otherwise(F.lit(0.0))
    return j.select(
        "lang",
        "tp",
        "fp",
        "fn",
        fround(prec, 6).alias("precision_"),
        fround(rec, 6).alias("recall_"),
        fround(f1, 6).alias("f1"),
    )


@query(
    "t37_ks_drift",
    oracle=f"""
    WITH tok AS (
        SELECT source, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    cnt AS (
        SELECT source, n_tokens, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT n_tokens FROM tok),
    srcs AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM cnt GROUP BY 1
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM tok),
    dense AS (
        SELECT s.source, g.n_tokens, s.n_src, COALESCE(c.c, 0) AS c
        FROM srcs s CROSS JOIN grid g
        LEFT JOIN cnt c ON c.source = s.source AND c.n_tokens = g.n_tokens
    ),
    gcnt AS (
        SELECT n_tokens, CAST(COUNT(*) AS BIGINT) AS gc FROM tok GROUP BY 1
    ),
    cdf AS (
        SELECT d.source, d.n_tokens, d.n_src,
               CAST(SUM(d.c) OVER (PARTITION BY d.source ORDER BY d.n_tokens)
                    AS DOUBLE) / d.n_src AS cdf_src,
               CAST(SUM(g.gc) OVER (PARTITION BY d.source ORDER BY d.n_tokens)
                    AS DOUBLE) / t.n_all AS cdf_all
        FROM dense d
        JOIN gcnt g ON g.n_tokens = d.n_tokens
        CROSS JOIN total t
    )
    SELECT source, CAST(n_src AS BIGINT) AS n_docs,
           {sql_fround("MAX(ABS(cdf_src - cdf_all))", 6)} AS ks_stat
    FROM cdf
    GROUP BY source, n_src
    """,
    doc="Two-sample Kolmogorov-Smirnov drift screen: for every source, "
    "the KS statistic (sup-norm CDF distance) between its token-count "
    "distribution and the whole corpus — the distribution-shift gate "
    "a training pipeline runs when a new crawl snapshot lands (a "
    "source whose length profile drifts gets quarantined before it "
    "skews mixture weights, t25). Built on a dense (source × "
    "distinct-length) grid so each source's step-function CDF is "
    "evaluated at every global grid point: the grid is a histogram "
    "domain (bounded, data-independent of corpus size), so the "
    "cross join is dimension-sized — counts stay integer-exact "
    "through the windowed cumulative sums and each CDF is one "
    "double division, making the sup-norm hash-stable. Two keyed "
    "aggregates + one window over len(grid)×|sources| rows; the "
    "corpus itself is scanned once.",
)
def t37_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", X.token_count(X.tokens(F.col("text"))).cast("bigint").alias("n_tokens"))
    cnt = tok.groupBy("source", "n_tokens").agg(F.count(F.lit(1)).alias("c"))
    grid = tok.select("n_tokens").distinct()
    srcs = cnt.groupBy("source").agg(F.sum("c").alias("n_src"))
    gcnt = tok.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("gc"))
    total = tok.agg(F.count(F.lit(1)).alias("n_all"))
    dense = (
        srcs.crossJoin(grid)
        .join(cnt, ["source", "n_tokens"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .join(gcnt, "n_tokens")
        .crossJoin(F.broadcast(total))
    )
    w = W.partitionBy("source").orderBy("n_tokens")
    cdf = dense.select(
        "source",
        "n_src",
        (F.sum("c").over(w).cast("double") / F.col("n_src")).alias("cdf_src"),
        (F.sum("gc").over(w).cast("double") / F.col("n_all")).alias("cdf_all"),
    )
    return cdf.groupBy("source", F.col("n_src").cast("bigint").alias("n_docs")).agg(
        fround(F.max(F.abs(F.col("cdf_src") - F.col("cdf_all"))), 6).alias("ks_stat")
    ).select("source", "n_docs", "ks_stat")


@query(
    "t38_quality_auc",
    oracle=f"""
    WITH m AS (
        SELECT source,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
               {sql_fround("0.4 * LEAST(n_tokens / 20.0, 1.0) + 0.4 * (1.0 - stop_ratio) + 0.2 * LEAST(avg_token_len / 8.0, 1.0)", 4)} AS quality
        FROM (
            SELECT source, lang,
                   CAST(len(toks) AS INTEGER) AS n_tokens,
                   {sql_fround(f"CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPS}))) AS DOUBLE) / len(toks)", 4)} AS stop_ratio,
                   {sql_fround("CAST(list_reduce(list_transform(toks, x -> len(x)), (a,b) -> a+b) AS DOUBLE) / len(toks)", 4)} AS avg_token_len
            FROM (SELECT source, lang, {_DUCK_TOKS} AS toks FROM documents) t
        ) b
    ),
    ranked AS (
        SELECT source, label,
               RANK() OVER (PARTITION BY source ORDER BY quality)
                   + (COUNT(*) OVER (PARTITION BY source, quality) - 1) / 2.0
                   AS avg_rank
        FROM m
    ),
    agg AS (
        SELECT source,
               CAST(SUM(label) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_neg,
               SUM(CASE WHEN label = 1 THEN avg_rank ELSE 0 END) AS r_pos
        FROM ranked GROUP BY source
    )
    SELECT source, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               {sql_fround("(r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)", 6)}
           END AS auc
    FROM agg
    """,
    doc="Classifier-threshold-free evaluation: per-source AUC of the "
    "t06 heuristic quality score as a predictor of lang='en' — the "
    "Mann-Whitney rank-sum form with average ranks for ties (exact "
    "half-integer ranks, so the statistic is hash-stable), NULL when "
    "a source lacks both classes. This is the eval a pipeline runs "
    "to decide whether a cheap quality heuristic can gate an "
    "expensive model filter. One window pair (rank + tie counts) "
    "per source partition and one keyed aggregate — the same "
    "single-shuffle profile as t36's confusion matrix; at 100 TB "
    "the rank window rides the source-partitioned layout the "
    "mixture queries (t25/t31) already use.",
)
def t38_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    base = d.select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        X.token_count(toks).alias("n_tokens"),
        fround(X.stopword_count(toks).cast("double") / X.token_count(toks), 4).alias(
            "stop_ratio"
        ),
        fround(X.total_chars(toks).cast("double") / X.token_count(toks), 4).alias(
            "avg_token_len"
        ),
    )
    m = base.select(
        "source",
        "label",
        X.quality_score(
            F.col("n_tokens"), F.col("stop_ratio"), F.col("avg_token_len")
        ).alias("quality"),
    )
    avg_rank = (
        F.rank().over(W.partitionBy("source").orderBy("quality"))
        + (F.count(F.lit(1)).over(W.partitionBy("source", "quality")) - 1) / 2.0
    )
    ranked = m.select("source", "label", avg_rank.alias("avg_rank"))
    agg = ranked.groupBy("source").agg(
        F.sum("label").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("n_neg"),
        F.sum(F.when(F.col("label") == 1, F.col("avg_rank")).otherwise(0.0)).alias(
            "r_pos"
        ),
    )
    auc = fround(
        (F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
        / (F.col("n_pos") * F.col("n_neg")),
        6,
    )
    return agg.select(
        "source",
        "n_pos",
        "n_neg",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc).alias("auc"),
    )


T39_BINS = 10  # calibration deciles


@query(
    "t39_calibration_bins",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
               {sql_fround("0.4 * LEAST(n_tokens / 20.0, 1.0) + 0.4 * (1.0 - stop_ratio) + 0.2 * LEAST(avg_token_len / 8.0, 1.0)", 4)} AS quality
        FROM (
            SELECT doc_id, lang,
                   CAST(len(toks) AS INTEGER) AS n_tokens,
                   {sql_fround(f"CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPS}))) AS DOUBLE) / len(toks)", 4)} AS stop_ratio,
                   {sql_fround("CAST(list_reduce(list_transform(toks, x -> len(x)), (a,b) -> a+b) AS DOUBLE) / len(toks)", 4)} AS avg_token_len
            FROM (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents) t
        ) b
    ),
    binned AS (
        SELECT label, quality,
               CAST(NTILE({T39_BINS}) OVER (ORDER BY quality, doc_id) AS INTEGER)
                   AS bin
        FROM m
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_fround(
               "CAST(SUM(CAST(FLOOR(quality * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)"
               " / 10000.0 / COUNT(*)", 6)} AS mean_quality,
           {sql_fround("CAST(SUM(label) AS DOUBLE) / COUNT(*)", 6)} AS frac_positive
    FROM binned
    GROUP BY bin
    """,
    doc=f"Calibration / reliability curve for the t06 quality heuristic "
    f"against lang='en': score deciles (NTILE over (quality, doc_id) — "
    "the doc_id tiebreak makes tied-score bin assignment engine-"
    "deterministic) with per-bin mean score and empirical positive "
    "rate — read next to t38's AUC: AUC says the score RANKS well, "
    "this says whether its VALUES mean anything (a well-calibrated "
    "bin's frac_positive tracks its mean score). Scores are 4dp-"
    "rounded so the 1e4 quantization before the per-bin mean is "
    "exact and order-independent; one global NTILE window (input is "
    "one row per doc — at 100 TB the same curve comes from the "
    "pre-aggregated (quality, label) frequency frame, which is "
    "histogram-sized) plus one keyed aggregate.",
)
def t39_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    base = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        X.token_count(toks).alias("n_tokens"),
        fround(X.stopword_count(toks).cast("double") / X.token_count(toks), 4).alias(
            "stop_ratio"
        ),
        fround(X.total_chars(toks).cast("double") / X.token_count(toks), 4).alias(
            "avg_token_len"
        ),
    )
    m = base.select(
        "doc_id",
        "label",
        X.quality_score(
            F.col("n_tokens"), F.col("stop_ratio"), F.col("avg_token_len")
        ).alias("quality"),
    )
    # single-partition NTILE is intentional: EXACT equal-frequency
    # binning is a global sort by definition (the oracle replays the
    # same NTILE tie behavior). At 100 TB the same readout uses
    # approx_percentile bin edges + a map-side bucket join (the x02/x08
    # sketch path) and accepts edge-tie divergence.
    binned = m.select(
        "label",
        "quality",
        F.ntile(T39_BINS).over(W.orderBy("quality", "doc_id")).cast("int").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        fround(
            F.sum(F.floor(F.col("quality") * 10000.0 + F.lit(0.5)).cast("bigint"))
            .cast("double")
            / 10000.0
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
        fround(F.sum("label").cast("double") / F.count(F.lit(1)), 6).alias(
            "frac_positive"
        ),
    )


# ---------------------------------------------------------------------------
# t40 — duplicated-span detection (exact-substring dedup readout):
# longest shared token RUN per doc pair via shingle-diagonal islands
# ---------------------------------------------------------------------------

T40_W = 8  # shingle width in tokens — a run of R shingles = R+W-1 tokens
T40_MAX_DF = 20  # anchor cap: shingles in more docs are boilerplate, skipped
T40_MIN_RUN = 3  # report pairs sharing a run of >= 3 shingles (>= 10 tokens)


@query(
    "t40_dup_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    sh0 AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ts) - {T40_W - 1}),
                      i -> struct_pack(pos := i,
                           h := md5(array_to_string(ts[i:i+{T40_W - 1}], ' '))))) AS u
        FROM toks WHERE len(ts) >= {T40_W}
    ),
    sh AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM sh0),
    freq AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY h) f
             WHERE df >= 2 AND df <= {T40_MAX_DF}),
    m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS i, b.pos AS j
          FROM sh a JOIN sh b USING (h) JOIN freq USING (h)
          WHERE a.doc_id < b.doc_id),
    isl AS (SELECT doc_a, doc_b, i - j AS diag, i,
                   i - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, i - j
                                          ORDER BY i) AS island
            FROM m),
    runs AS (SELECT doc_a, doc_b, COUNT(*) AS run_shingles
             FROM isl GROUP BY doc_a, doc_b, diag, island)
    SELECT doc_a, doc_b,
           CAST(MAX(run_shingles) + {T40_W - 1} AS BIGINT) AS longest_dup_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM runs GROUP BY doc_a, doc_b HAVING MAX(run_shingles) >= {T40_MIN_RUN}
    """,
    doc=f"Duplicated-SPAN detection — the exact-substring dedup readout "
    "(the Lee et al. 2022 signal that drives span-level training-data "
    f"dedup): {T40_W}-token shingles carry their positions; matching "
    "shingles across a doc pair land on a (pos_a - pos_b) DIAGONAL, "
    "and consecutive positions on one diagonal are a shared run, "
    "recovered with the gaps-and-islands trick (pos - row_number is "
    "constant within a run) — no per-pair alignment, just equi-joins "
    "and windows over matched shingles. Per pair: the longest shared "
    f"run in tokens (>= {T40_MIN_RUN + T40_W - 1}) and the run count. "
    f"Shingles in more than {T40_MAX_DF} docs are skipped as "
    "boilerplate (the standard rare-anchor cap, part of the spec: it "
    "bounds the match join by df² per shingle instead of corpus-"
    "quadratic, which is what keeps the plan alive at 100 TB where "
    "common shingles would otherwise dominate); the window partitions "
    "by (pair, diagonal), so state per task is one run counter.",
)
def t40_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_span_runs

    d = load_table(spark, sf_dir, "documents")
    runs = dup_span_runs(d, "doc_id", "text", w=T40_W, max_df=T40_MAX_DF)
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run_shingles") + T40_W - 1).cast("bigint").alias("longest_dup_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        )
        .filter(F.col("longest_dup_tokens") >= T40_MIN_RUN + T40_W - 1)
    )


@query(
    "t41_span_removal_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    sh0 AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ts) - {T40_W - 1}),
                      i -> struct_pack(pos := i,
                           h := md5(array_to_string(ts[i:i+{T40_W - 1}], ' '))))) AS u
        FROM toks WHERE len(ts) >= {T40_W}
    ),
    sh AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM sh0),
    freq AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY h) f
             WHERE df >= 2 AND df <= {T40_MAX_DF}),
    m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS i, b.pos AS j
          FROM sh a JOIN sh b USING (h) JOIN freq USING (h)
          WHERE a.doc_id < b.doc_id),
    isl AS (SELECT doc_a, doc_b, i - j AS diag, i, j,
                   i - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, i - j
                                          ORDER BY i) AS island
            FROM m),
    runs AS (SELECT doc_a, doc_b, COUNT(*) AS run_shingles, MIN(j) AS j0
             FROM isl GROUP BY doc_a, doc_b, diag, island
             HAVING COUNT(*) >= {T40_MIN_RUN}),
    cuts AS (SELECT DISTINCT doc_b AS doc_id, j0 AS s,
                    j0 + run_shingles + {T40_W - 2} AS e
             FROM runs),
    flg AS (SELECT doc_id, s, e,
                   CASE WHEN s > COALESCE(MAX(e) OVER (
                            PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS newgrp
            FROM cuts),
    grp AS (SELECT doc_id, s, e,
                   SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
            FROM flg),
    mrg AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM grp GROUP BY doc_id, g),
    agg AS (SELECT doc_id, COUNT(*) AS n_spans_cut, SUM(e - s + 1) AS tokens_removed
            FROM mrg GROUP BY doc_id)
    SELECT a.doc_id,
           CAST(len(t.ts) AS BIGINT) AS n_tokens,
           CAST(n_spans_cut AS BIGINT) AS n_spans_cut,
           CAST(tokens_removed AS BIGINT) AS tokens_removed,
           CAST(len(t.ts) - tokens_removed AS BIGINT) AS tokens_kept
    FROM agg a JOIN toks t USING (doc_id)
    """,
    doc="The REMOVAL half of span-level exact-substring dedup: every "
    f"duplicated run t40 detects (>= {T40_MIN_RUN} shingles) becomes a "
    "cut interval in the pair's HIGHER doc_id (the earliest copy is "
    "kept, the hash-ranked keeper rule the rest of the dedup family "
    "uses); a doc hit by several pairs gets its intervals MERGED with "
    "the classic window trick (new group when start exceeds the "
    "running max of prior ends — one pass, no self-join), then "
    "reports spans cut, tokens removed, and tokens kept per affected "
    "doc. Interval merging partitions by doc — at 100 TB each doc's "
    "interval list is tiny however big the corpus, so the window "
    "state per task is one running max. The actual text rewrite is "
    "the same positions filter (drop tokens inside merged intervals); "
    "the stats form keeps the output hash-stable and audit-sized.",
)
def t41_span_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.dedup import dup_span_runs
    from ..operators.layout import fan_out

    d = load_table(spark, sf_dir, "documents")
    runs = dup_span_runs(
        d, "doc_id", "text", w=T40_W, max_df=T40_MAX_DF
    ).filter(F.col("run_shingles") >= T40_MIN_RUN)
    cuts = runs.select(
        F.col("doc_b").alias("doc_id"),
        F.col("j0").alias("s"),
        (F.col("j0") + F.col("run_shingles") + T40_W - 2).alias("e"),
    ).distinct()
    w_ord = W.partitionBy("doc_id").orderBy("s", "e")
    prev_max_end = F.max("e").over(w_ord.rowsBetween(W.unboundedPreceding, -1))
    flg = cuts.withColumn(
        "newgrp",
        (F.col("s") > F.coalesce(prev_max_end, F.lit(-1))).cast("int"),
    )
    grp = flg.withColumn(
        "g", F.sum("newgrp").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    mrg = grp.groupBy("doc_id", "g").agg(F.min("s").alias("s"), F.max("e").alias("e"))
    agg = mrg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans_cut"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("tokens_removed"),
    )
    toks = fan_out(d).select("doc_id", X.tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") >= T40_W
    )
    return agg.join(toks, "doc_id").select(
        "doc_id",
        F.size("ts").cast("bigint").alias("n_tokens"),
        "n_spans_cut",
        "tokens_removed",
        (F.size("ts") - F.col("tokens_removed")).cast("bigint").alias("tokens_kept"),
    )


# ---------------------------------------------------------------------------
# t42 — water-filling token-budget allocation: divide a global training
# token budget across sources such that no source exceeds its available
# mass and the remainder is split evenly (the capped-proportional
# mixture rule; closed-form relational solve, no iteration)
# ---------------------------------------------------------------------------


@query(
    "t42_token_waterfill",
    oracle=f"""
    WITH tok AS (
        SELECT source, CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS avail
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    r AS (
        SELECT source, avail,
               ROW_NUMBER() OVER (ORDER BY avail, source) AS rn,
               SUM(avail) OVER (ORDER BY avail, source
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM tok
    ),
    lv AS (
        SELECT MIN(t) AS level FROM (
            SELECT CAST(total * 9 // 10 - (cum - avail) AS DOUBLE) / (n - rn + 1) AS t,
                   avail, rn,
                   MIN(CASE WHEN CAST(total * 9 // 10 - (cum - avail) AS DOUBLE)
                                 / (n - rn + 1) <= avail
                            THEN rn END) OVER () AS first_rn
            FROM r CROSS JOIN tot
        ) WHERE rn = first_rn
    )
    SELECT source, avail AS avail_tokens,
           {sql_fround("LEAST(CAST(avail AS DOUBLE), level)", 4)} AS alloc_tokens,
           avail <= level AS exhausted,
           {sql_fround("level", 4)} AS level
    FROM tok CROSS JOIN lv
    """,
    doc="Water-filling token-budget allocation: a global budget of 90% of "
    "the corpus's tokens is split across sources by the capped-"
    "proportional rule — every source contributes min(available, t) "
    "where the water level t satisfies sum min(avail, t) = budget. "
    "Solved in closed form relationally: sources sorted by available "
    "mass, prefix cumulative sums, per-prefix candidate level "
    "(budget - cum_below)/(sources_remaining), and the FIRST prefix "
    "whose candidate level does not exhaust its own source is the "
    "answer (always exists while budget < total) — no iterative "
    "fixpoint, so the whole solve is two window passes over one row "
    "per source. The single-partition windows are intentional: they "
    "run on the per-source aggregate (one row per source), never on "
    "documents. Exact bigint token sums make the level's one double "
    "division engine-identical; the mixture-assembly companion to "
    "t25's temperature weights (those RESHAPE shares; this CAPS them "
    "against what each source actually has).",
)
def t42_token_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.sum(X.token_count(X.tokens(F.col("text")))).cast("bigint").alias("avail")
    )
    tot = tok.agg(
        F.sum("avail").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    # single-partition windows are intentional: tok has one row per
    # source (aggregate-sized), never documents
    w_ord = W.orderBy("avail", "source")
    r = tok.withColumn("rn", F.row_number().over(w_ord)).withColumn(
        "cum", F.sum("avail").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    t_cand = (F.expr("total * 9 DIV 10") - (F.col("cum") - F.col("avail"))).cast(
        "double"
    ) / (F.col("n") - F.col("rn") + 1)
    cands = r.crossJoin(F.broadcast(tot)).select(
        "rn", "avail", t_cand.alias("t")
    )
    first_rn = F.min(F.when(F.col("t") <= F.col("avail"), F.col("rn"))).over(
        W.partitionBy()
    )
    lv = (
        cands.withColumn("first_rn", first_rn)
        .filter(F.col("rn") == F.col("first_rn"))
        .agg(F.min("t").alias("level"))
    )
    return (
        tok.crossJoin(F.broadcast(lv))
        .select(
            "source",
            F.col("avail").alias("avail_tokens"),
            fround(F.least(F.col("avail").cast("double"), F.col("level")), 4).alias(
                "alloc_tokens"
            ),
            (F.col("avail") <= F.col("level")).alias("exhausted"),
            fround(F.col("level"), 4).alias("level"),
        )
    )


# ---------------------------------------------------------------------------
# t44 — Heaps'-law vocabulary-growth fit: V(n) ≈ K·n^β over corpus
# prefixes (t35's Zipf fit is the frequency spectrum at one corpus
# size; this is how the vocabulary GROWS as the corpus does — the
# curve that predicts tokenizer/vocab coverage at 100 TB from a
# sample)
# ---------------------------------------------------------------------------

T44_STEP = 50  # prefix checkpoint every 50 docs (by doc_id order)


@query(
    "t44_heaps_fit",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    dlen AS (SELECT doc_id, len(ts) AS n_tok FROM toks),
    firsts AS (
        SELECT tok, MIN(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(ts) AS tok FROM toks) t
        GROUP BY tok
    ),
    cps AS (
        SELECT unnest(range({T44_STEP - 1},
                            (SELECT MAX(doc_id) FROM documents) + 1,
                            {T44_STEP})) AS cp
    ),
    pts AS (
        SELECT cp,
               (SELECT CAST(SUM(n_tok) AS BIGINT) FROM dlen
                WHERE doc_id <= cp) AS cum_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
                WHERE first_doc <= cp) AS cum_vocab
        FROM cps
    ),
    q AS (
        SELECT CAST(FLOOR(ln(CAST(cum_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS xq,
               CAST(FLOOR(ln(CAST(cum_vocab AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS yq
        FROM pts
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
               CAST(SUM(xq * xq // 1000000) AS BIGINT) AS sxx,
               CAST(SUM(xq * yq // 1000000) AS BIGINT) AS sxy
        FROM q
    )
    SELECT n AS n_checkpoints,
           {sql_fround(
               "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy / 1000000.0)"
               " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx / 1000000.0)",
               6)} AS heaps_beta,
           {sql_fround(
               "exp(CAST(sy AS DOUBLE) / n / 1000000.0"
               " - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy / 1000000.0)"
               " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx / 1000000.0))"
               " * CAST(sx AS DOUBLE) / n / 1000000.0)",
               4)} AS heaps_k
    FROM s
    """,
    doc="Heaps'-law vocabulary-growth fit: cumulative distinct-token "
    f"count vs cumulative token count at every {T44_STEP}-doc prefix "
    "(doc_id order), OLS of log V on log n → the β exponent (natural "
    "text ~0.4-0.6; β near 1 means near-random token soup, β near 0 a "
    "closed template vocabulary) and the K prefactor — the curve that "
    "extrapolates tokenizer/vocab coverage from a sample to the full "
    "corpus. The cumulative distinct counts need NO per-prefix rescan: "
    "each token contributes at its FIRST doc (one groupBy-min), and a "
    "checkpoint's vocabulary is the count of first-occurrences at or "
    "before it — the e12 first-occurrence trick applied to corpus "
    "growth. Log points are 1e-6-quantized and the OLS moments exact "
    "integer sums (the t35 discipline), so both engines compute the "
    "identical regression.",
)
def t44_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", X.tokens(F.col("text")).alias("ts"))
    dlen = toks.select("doc_id", F.size("ts").alias("n_tok"))
    firsts = (
        toks.select("doc_id", F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    max_id = d.agg(F.max("doc_id").alias("mx"))
    cps = max_id.select(
        F.explode(
            F.sequence(F.lit(T44_STEP - 1), F.col("mx"), F.lit(T44_STEP))
        ).alias("cp")
    )
    # checkpoint grids are tiny (corpus/STEP rows): broadcast them
    # against the per-doc / per-first-doc aggregates
    cum_tok = (
        dlen.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") <= F.col("cp"))
        .groupBy("cp")
        .agg(F.sum("n_tok").cast("bigint").alias("cum_tokens"))
    )
    cum_voc = (
        firsts.crossJoin(F.broadcast(cps))
        .filter(F.col("first_doc") <= F.col("cp"))
        .groupBy("cp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cum_vocab"))
    )
    pts = cum_tok.join(cum_voc, "cp")
    xq = F.floor(F.log(F.col("cum_tokens").cast("double")) * F.lit(1e6) + F.lit(0.5)).cast(
        "bigint"
    )
    yq = F.floor(F.log(F.col("cum_vocab").cast("double")) * F.lit(1e6) + F.lit(0.5)).cast(
        "bigint"
    )
    s = pts.select(xq.alias("xq"), yq.alias("yq")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.expr("xq * xq div 1000000")).alias("sxx"),
        F.sum(F.expr("xq * yq div 1000000")).alias("sxy"),
    )
    slope = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy") / F.lit(1e6)
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx") / F.lit(1e6)
    )
    intercept = (
        F.col("sy").cast("double") / F.col("n") / F.lit(1e6)
        - slope * F.col("sx").cast("double") / F.col("n") / F.lit(1e6)
    )
    return s.select(
        F.col("n").alias("n_checkpoints"),
        fround(slope, 6).alias("heaps_beta"),
        fround(F.exp(intercept), 4).alias("heaps_k"),
    )


# ---------------------------------------------------------------------------
# t45 — n-gram novelty decay over arrival order: what fraction of each
# doc's 8-grams has never been seen in any earlier doc? A healthy crawl
# decays slowly; a loop/template collapse drops novelty to ~0 — the
# corpus-freshness monitor next to t44's vocabulary-growth fit
# ---------------------------------------------------------------------------

T45_BUCKET = 50  # arrival buckets of 50 docs (doc_id order)


@query(
    "t45_novelty_decay",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(ts) - {CONTAM_NGRAM - 1}),
                   i -> md5(list_aggregate(ts[i:i+{CONTAM_NGRAM - 1}], 'string_agg', ' '))
               ))) AS g
        FROM toks WHERE len(ts) >= {CONTAM_NGRAM}
    ),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    per_doc AS (
        SELECT gr.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM grams gr JOIN firsts f USING (g)
        GROUP BY gr.doc_id
    )
    SELECT doc_id // {T45_BUCKET} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           {sql_fround("CAST(SUM(n_novel) AS DOUBLE) / SUM(n_grams)", 6)}
             AS novelty_rate
    FROM per_doc GROUP BY 1
    """,
    doc=f"N-gram novelty decay: per {T45_BUCKET}-doc arrival bucket "
    f"(doc_id order), the fraction of distinct {CONTAM_NGRAM}-grams "
    "appearing for the FIRST time in the corpus — the freshness "
    "monitor that catches crawl loops and template collapse (novelty "
    "falling to ~0 long before storage fills with duplicates; the "
    "span/exact dedup families then quantify what to cut). One "
    "groupBy-min assigns every gram its first document (the e12/t44 "
    "first-occurrence trick), so no per-prefix rescans and no "
    "quadratic pair work — shuffle volume is one row per distinct "
    "gram. Exact integer counts; one double division per bucket.",
)
def t45_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", X.tokens(F.col("text")).alias("_tk")).filter(
        F.size("_tk") >= CONTAM_NGRAM
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(X.shingles_zip(F.col("_tk"), CONTAM_NGRAM), F.md5)
            )
        ).alias("g"),
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        per_doc.groupBy(F.expr(f"doc_id DIV {T45_BUCKET}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("n_grams"),
            F.sum("n_novel").cast("bigint").alias("n_novel"),
            fround(
                F.sum("n_novel").cast("double") / F.sum("n_grams"), 6
            ).alias("novelty_rate"),
        )
    )


# ---------------------------------------------------------------------------
# t46 — Good–Turing frequency smoothing; t47 — Jensen–Shannon source
# divergence (round 6)
# ---------------------------------------------------------------------------

_T47_LN2 = 0.6931471805599453  # nearest IEEE double to ln 2, pinned as a
# literal so both engines use the identical constant (never their libm)
_T47_Q = 1_000_000_000.0  # 1e-9 term quantization (t21 pattern): JS terms
# are summed as exact BIGINTs so float addition order cannot flip the hash


@query(
    "t46_good_turing",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    grams AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(ts) - {DUPGRAM_N - 1}),
                   i -> md5(list_aggregate(ts[i:i+{DUPGRAM_N - 1}], 'string_agg', ' '))
               )) AS g
        FROM toks WHERE len(ts) >= {DUPGRAM_N}
    ),
    cnts AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM grams GROUP BY g),
    fof AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM cnts GROUP BY r),
    tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n FROM fof)
    SELECT f1.r, f1.n_r,
           {sql_fround("CAST(f1.r * f1.n_r AS DOUBLE) / tot.n", 6)} AS mass_frac,
           {sql_fround("(f1.r + 1) * CAST(COALESCE(f2.n_r, 0) AS DOUBLE) / f1.n_r", 6)}
             AS gt_rstar
    FROM fof f1 LEFT JOIN fof f2 ON f2.r = f1.r + 1, tot
    """,
    doc=f"Good–Turing frequency-of-frequencies over corpus-wide "
    f"{DUPGRAM_N}-gram instances: N_r = how many distinct grams occur "
    "exactly r times, the smoothed count r* = (r+1)·N_(r+1)/N_r, and "
    "each r's share of total instance mass — mass_frac at r = 1 IS "
    "the Good–Turing estimate of unseen-gram probability, the number "
    "that says how much novel text the corpus still has to give "
    "(singleton-rich ⇒ keep crawling; here N1 dominates, unlike the "
    "closed 31-token unigram vocab t44 exposed). Plan: gram counts "
    "are one shuffle, the frequency-of-frequencies rollup collapses "
    "to ~a dozen rows however large the corpus, and the r+1 lookup "
    "is a self-join on that dozen-row frame — no window, no sort.",
)
def t46_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    base = d.select(X.tokens(F.col("text")).alias("_tk")).filter(
        F.size("_tk") >= DUPGRAM_N
    )
    grams = base.select(
        F.explode(F.transform(X.shingles_zip(F.col("_tk"), DUPGRAM_N), F.md5)).alias("g")
    )
    cnts = grams.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    fof = cnts.groupBy("r").agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
    tot = fof.agg(F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n"))
    nxt = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("_n_next"))
    return (
        fof.join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            fround((F.col("r") * F.col("n_r")).cast("double") / F.col("n"), 6).alias(
                "mass_frac"
            ),
            fround(
                (F.col("r") + 1)
                * F.coalesce(F.col("_n_next"), F.lit(0)).cast("double")
                / F.col("n_r"),
                6,
            ).alias("gt_rstar"),
        )
    )


@query(
    "t47_js_source_divergence",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    c AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY source, tok
    ),
    t AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM c GROUP BY source),
    p AS (
        SELECT c.source, c.tok, CAST(c.cnt AS DOUBLE) / t.tot AS p
        FROM c JOIN t ON c.source = t.source
    ),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(FLOOR((
                   0.5 * a.p * ln(a.p / ((a.p + b.p) / 2))
                 + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2))
                 - 0.5 * {_T47_LN2} * (a.p + b.p)
               ) * {_T47_Q} + 0.5) AS BIGINT) AS q_term
        FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
    ),
    sums AS (
        SELECT src_a, src_b, CAST(SUM(q_term) AS BIGINT) AS q
        FROM shared GROUP BY src_a, src_b
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM t a JOIN t b ON a.source < b.source
    )
    SELECT pairs.src_a, pairs.src_b,
           {sql_fround(f"{_T47_LN2} + CAST(COALESCE(q, 0) AS DOUBLE) / {_T47_Q}", 6)}
               AS js_nats
    FROM pairs LEFT JOIN sums
      ON pairs.src_a = sums.src_a AND pairs.src_b = sums.src_b
    """,
    doc="Jensen–Shannon divergence between every pair of sources' "
    "unigram distributions — the symmetric, always-finite corpus-drift "
    "metric (0 = identical mixes) a data-curation pipeline uses to "
    "spot a crawl slice whose token mix shifted, or to pick maximally "
    "diverse sources for a training mixture. NO densified vocabulary "
    "grid and no vocab broadcast (round-6 ADVICE: vocabulary grows "
    "with the corpus under Heaps' law, so a broadcast grid would OOM "
    "at scale): tokens present in only one of the pair contribute "
    "exactly 0.5·p·ln2, so JS = ln2 + Σ_shared[term − 0.5·ln2·(pa+pb)] "
    "and the whole query is an INNER equi-join on the (source, token) "
    "count table. ln2 is a pinned literal (both engines use the same "
    "IEEE double, never their libm); per-token terms are quantized to "
    "1e-9 BIGINTs before the per-pair sum (t21 pattern) so addition "
    "order cannot flip the hash; the pair universe comes from a "
    "broadcast of the SOURCES list (genuinely dimension-sized) so a "
    "pair sharing zero tokens still lands at JS = ln2. Scale: work is "
    "Σ_t n_t² ≤ sources · |counts| on the shared-token join — bounded "
    "by the count-table size, never sources²·vocab.",
)
def t47_js_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    t = c.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("tot"))
    p = c.join(t, "source").select(
        "source", "tok", (F.col("cnt").cast("double") / F.col("tot")).alias("p")
    )
    a = p.select(F.col("source").alias("src_a"), "tok", F.col("p").alias("pa"))
    b = p.select(
        F.col("source").alias("src_b"),
        F.col("tok").alias("tok_b"),
        F.col("p").alias("pb"),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    # shared tokens have pa > 0 AND pb > 0 by construction (inner join
    # on counts), so no zero guards; the -0.5·ln2·(pa+pb) term folds
    # the one-sided missing-mass contribution into the shared sum
    term = (
        0.5 * F.col("pa") * F.log(F.col("pa") / m)
        + 0.5 * F.col("pb") * F.log(F.col("pb") / m)
        - 0.5 * _T47_LN2 * (F.col("pa") + F.col("pb"))
    )
    q_term = F.floor(term * _T47_Q + 0.5).cast("bigint")
    sums = (
        a.join(b, (F.col("tok") == F.col("tok_b")) & (F.col("src_a") < F.col("src_b")))
        .select("src_a", "src_b", q_term.alias("q_term"))
        .groupBy("src_a", "src_b")
        .agg(F.sum("q_term").cast("bigint").alias("q"))
    )
    pairs = (
        t.select(F.col("source").alias("src_a"))
        .crossJoin(F.broadcast(t.select(F.col("source").alias("src_b"))))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    return pairs.join(sums, ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        fround(
            _T47_LN2 + F.coalesce(F.col("q"), F.lit(0)).cast("double") / _T47_Q, 6
        ).alias("js_nats"),
    )


# ---------------------------------------------------------------------------
# t48 — windowed co-occurrence PMI (round 7)
# ---------------------------------------------------------------------------

_T48_WIN = 3  # context window: ordered (center, context) pairs at offsets 1..3
_T48_MIN = 5  # minimum pair count — kills one-off flukes before the margins
_T48_TOPK = 30


@query(
    "t48_pmi_cooccurrence",
    oracle=f"""
    WITH t AS (SELECT {_DUCK_TOKS} AS toks FROM documents),
    pairs AS (
        {" UNION ALL ".join(
            f'''SELECT z[1] AS w1, z[2] AS w2
            FROM (SELECT unnest(list_zip(toks[1:len(toks) - {d}],
                                         toks[{d + 1}:len(toks)])) AS z
                  FROM t WHERE len(toks) > {d})'''
            for d in range(1, _T48_WIN + 1)
        )}
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
    cab AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM pairs GROUP BY w1, w2 HAVING COUNT(*) >= {_T48_MIN}
    ),
    ca AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_a FROM pairs GROUP BY w1),
    cb AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c_b FROM pairs GROUP BY w2),
    scored AS (
        SELECT cab.w1, cab.w2, c_ab,
               (CAST(c_ab * n_pairs AS DOUBLE)) / (CAST(c_a * c_b AS DOUBLE))
                   AS ratio
        FROM cab JOIN ca ON cab.w1 = ca.w1
                 JOIN cb ON cab.w2 = cb.w2
        CROSS JOIN n
    )
    SELECT w1 AS center, w2 AS context, c_ab AS n_pair,
           {sql_fround("ln(ratio)", 6)} AS pmi
    FROM scored
    ORDER BY ratio DESC, w1, w2 LIMIT {_T48_TOPK}
    """,
    doc="Pointwise mutual information of (center, context) token pairs "
    f"within a {_T48_WIN}-token forward window — the co-occurrence "
    "statistic under word2vec/GloVe-era embeddings (SGNS factorizes "
    "the shifted-PMI matrix; Church & Hanks 1990) and the collocation "
    "detector a curation pipeline runs to find templated boilerplate. "
    "Pair generation is a SHUFFLE-FREE narrow map: each doc zips its "
    "token array against itself at offsets 1..k (array slices, no "
    "per-doc window shuffle, no positional self-join); the only "
    "data-sized shuffle is the (center, context) count. PMI ordering "
    "uses the exact-integer ratio c_ab·N / (c_a·c_b) — products stay "
    "under 2^53 so the double is exact and the top-"
    f"{_T48_TOPK} cut is engine-deterministic (ratio, then pair "
    "tiebreak); ln is applied only to the already-agreed double. "
    f"Pairs rarer than {_T48_MIN} are pruned BEFORE the margin joins. "
    "Scale: margins are vocab-sized, surviving pairs are "
    "min-count-bounded, top-k is TakeOrdered — never a global sort of "
    "the pair space.",
)
def t48_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))

    def pairs_at(dd: int):
        # guard short docs: slice() rejects non-positive lengths, and
        # the oracle's WHERE len(toks) > d drops them the same way
        n = F.size(tk) - dd
        return F.when(
            n > 0,
            F.zip_with(
                F.slice(tk, 1, n),
                F.slice(tk, dd + 1, n),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ).otherwise(F.array())

    pairs = d.select(
        F.explode(
            F.flatten(F.array(*[pairs_at(dd) for dd in range(1, _T48_WIN + 1)]))
        ).alias("z")
    ).select(F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    n = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    cab = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= _T48_MIN)
    )
    ca = pairs.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("c_a"))
    cb = pairs.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("c_b"))
    ratio = (F.col("c_ab") * F.col("n_pairs")).cast("double") / (
        F.col("c_a") * F.col("c_b")
    ).cast("double")
    return (
        cab.join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("w1").alias("center"),
            F.col("w2").alias("context"),
            F.col("c_ab").alias("n_pair"),
            ratio.alias("_ratio"),
        )
        .orderBy(F.col("_ratio").desc(), "center", "context")
        .limit(_T48_TOPK)
        .select(
            "center", "context", "n_pair", fround(F.log(F.col("_ratio")), 6).alias("pmi")
        )
    )
