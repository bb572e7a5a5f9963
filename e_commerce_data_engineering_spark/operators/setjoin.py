"""Exact set-similarity join via prefix filtering (AllPairs/PPJoin
family — Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06). The scalable
EXACT alternative to a blocked O(n²) self-join: two docs can reach
Jaccard >= t only if their prefixes — the (|x| - ceil(t*|x|) + 1)
globally-rarest tokens of each — share at least one token, so candidate
pairs form only inside per-token inverted-index buckets of rare tokens.

All DataFrame ops (explode + join + groupBy); exact verification on the
full token sets afterwards, so the result is identical to brute force.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import tier
from ..functions.text import tokens
from .layout import fan_out


def _rarest_first_sets(
    df: DataFrame, id_col: str, text_col: str, groups: tuple[str, ...]
) -> DataFrame:
    base = (
        fan_out(df)
        .select(
            F.col(id_col).alias("_id"),
            *groups,
            F.array_distinct(
                F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
            ).alias("_ts"),
        )
        .filter(F.size("_ts") > 0)
    )
    tok = base.select("_id", *groups, F.explode("_ts").alias("_tok"))
    freq = tok.groupBy("_tok").agg(F.count("*").alias("_freq"))
    # rarest-first total order per doc: sort (freq, token-hash)
    # structs, then strip back to token hashes
    return (
        tok.join(freq, "_tok")
        .groupBy("_id", *groups)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_freq", "_tok"))),
                lambda s: s["_tok"],
            ).alias("_ts")
        )
    )


def jaccard_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """All pairs with token-set Jaccard >= threshold → (id_a, id_b,
    jaccard). Exact (verified), corpus-wide (no blocking key needed).

    Pipeline: hash tokens to longs → global token frequencies → order
    each doc's tokens rarest-first (freq, then hash, a total order) →
    prefix = the first |ts| - ceil(t*|ts|) + 1 tokens — inverted-index
    join on prefix tokens → exact Jaccard on full sets. Shuffle volume
    tracks prefix-token bucket occupancy — rare tokens by construction
    — not n².

    ``group_cols``: optional extra equi-keys — pairs must agree on them
    (e.g. a `source` column). They ride the inverted-index join key, so
    the prefix/length/positional filters prune within each group and
    the pair space never crosses groups. The frequency ordering stays
    global (any consistent total order is correct for the prefix-filter
    guarantee; global frequency just minimizes candidates).
    """
    groups = list(group_cols or [])

    # r12 (guide §2.4): the rarest-first ordered-set frame feeds the
    # prefix fanout (both inverted-index join sides) AND both exact-
    # verify set joins — 4 subtrees whose lazy persists raced and
    # re-ran the tokenize + frequency-sort build per consumer. It is a
    # frames.tier entry (built once per process). The build does not
    # take the threshold, so two queries over the same corpus at
    # different thresholds share the frame instead of rebuilding it.
    ordered = tier(
        _rarest_first_sets, df, id_col=id_col, text_col=text_col, groups=tuple(groups)
    )
    n = F.size("_ts")
    # epsilon-guarded ceil: 0.8*45 floats to 36.000000000000001 and a
    # naive ceil would shorten the prefix below the safe bound (losing
    # true pairs); under-ceiling only lengthens the prefix (safe).
    t = float(threshold)
    req = F.ceil(n * F.lit(t) - F.lit(1e-9)).cast("int")
    prefix_len = n - req + 1
    prefix = ordered.select(
        F.col("_id"),
        *groups,
        n.alias("_n"),
        F.posexplode(F.slice("_ts", 1, prefix_len)).alias("_pos", "_tok"),
    )
    a = prefix.select(
        F.col("_id").alias("id_a"),
        *groups,
        F.col("_n").alias("_na"),
        F.col("_pos").alias("_pa"),
        "_tok",
    )
    b = prefix.select(
        F.col("_id").alias("id_b"),
        *groups,
        F.col("_n").alias("_nb"),
        F.col("_pos").alias("_pb"),
        "_tok",
    )
    # PPJoin filters, applied inside the bucket join BEFORE the distinct:
    # * length: Jac>=t forces t*|A| <= |B| <= |A|/t;
    # * positional: overlap from this collision onward is at most
    #   min(|A|-pa, |B|-pb) (0-based pos => suffix incl. current), and
    #   Jac>=t needs overlap >= t/(1+t)*(|A|+|B|).
    alpha = F.ceil((F.col("_na") + F.col("_nb")) * F.lit(t / (1.0 + t)) - F.lit(1e-9))
    cands = (
        a.join(b, ["_tok", *groups])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("_nb") >= F.ceil(F.col("_na") * F.lit(t) - F.lit(1e-9)))
            & (F.col("_na") >= F.ceil(F.col("_nb") * F.lit(t) - F.lit(1e-9)))
        )
        .filter(
            F.least(F.col("_na") - F.col("_pa"), F.col("_nb") - F.col("_pb")) >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = ordered.select("_id", "_ts")
    verified = cands.join(
        sets.select(F.col("_id").alias("id_a"), F.col("_ts").alias("_ts_a")), "id_a"
    ).join(sets.select(F.col("_id").alias("id_b"), F.col("_ts").alias("_ts_b")), "id_b")
    inter = F.size(F.array_intersect("_ts_a", "_ts_b"))
    union = F.size("_ts_a") + F.size("_ts_b") - inter
    jac = inter.cast("double") / union
    return verified.filter(jac >= threshold).select(
        "id_a", "id_b", jac.alias("jaccard")
    )


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """All DIRECTED pairs (a, b), a != b, with token-set containment
    ``|A ∩ B| / |A| >= threshold`` — "a is (nearly) a subset of b", the
    asymmetric primitive behind quote/excerpt detection and
    subset-dedup, where symmetric Jaccard misses a short doc embedded
    in a long one.

    Prefix filtering adapts to containment (Chaudhuri et al. ICDE'06):
    A must contribute an overlap of ceil(t*|A|), so only the
    |A| - ceil(t*|A|) + 1 globally-rarest tokens of A can START a
    match — the probe side explodes just that prefix. The indexed side
    has no length bound under containment (B may be arbitrarily large),
    so it contributes its full inverted index; candidates still form
    only where a rare probe token collides, and exact verification on
    the full sets makes the result identical to brute force.
    """
    base = (
        fan_out(df)
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(
                F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
            ).alias("_ts"),
        )
        .filter(F.size("_ts") > 0)
        .persist()
    )
    tok = base.select("_id", F.explode("_ts").alias("_tok"))
    freq = tok.groupBy("_tok").agg(F.count("*").alias("_freq"))
    ordered = (
        tok.join(freq, "_tok")
        .groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_freq", "_tok"))), lambda s: s["_tok"]
            ).alias("_ts")
        )
        .persist()
    )
    n = F.size("_ts")
    t = float(threshold)
    req = F.ceil(n * F.lit(t) - F.lit(1e-9)).cast("int")
    prefix_len = n - req + 1
    probe = ordered.select(
        F.col("_id").alias("id_a"),
        F.explode(F.slice("_ts", 1, prefix_len)).alias("_tok"),
    )
    index = ordered.select(
        F.col("_id").alias("id_b"), F.explode("_ts").alias("_tok")
    )
    cands = (
        probe.join(index, "_tok")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = ordered.select("_id", "_ts")
    verified = cands.join(
        sets.select(F.col("_id").alias("id_a"), F.col("_ts").alias("_ts_a")), "id_a"
    ).join(sets.select(F.col("_id").alias("id_b"), F.col("_ts").alias("_ts_b")), "id_b")
    containment = (
        F.size(F.array_intersect("_ts_a", "_ts_b")).cast("double") / F.size("_ts_a")
    )
    return verified.filter(containment >= threshold).select(
        "id_a", "id_b", containment.alias("containment")
    )
