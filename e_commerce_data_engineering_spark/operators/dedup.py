"""Deduplication operators for the training-data surface (SURVEY §2.11):
exact, MinHash-LSH near-dup, SimHash near-dup — all pure Catalyst
expressions (hashing, HOFs, self-joins); no Python in the hot path.

Scale design: LSH banding turns the O(n²) pair problem into a
shuffle-on-bucket problem — candidate pairs only form inside a
(band, band_hash) bucket, so cost tracks the true near-dup density.
The final exact-Jaccard verification touches candidates only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..frames import tier
from ..functions.text import shingles_zip, tokens
from .layout import fan_out

_MAX_LONG = (1 << 63) - 1


def shingles_of(text: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles of a whitespace-tokenized text column.
    Caller notes: rows with < n tokens yield an empty array. Prefer
    ``_shingle_frame`` for pipelines — it materializes the token array
    so Catalyst can't inline the tokenizer into every shingle lambda."""
    return F.array_distinct(shingles_zip(tokens(text), n))


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return fan_out(df).select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk"))


def token_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _tk) tiered tokens frame — the SHARED first stage of
    every text-dedup family (minhash shingles, simhash votes,
    winnowing k-grams all start from the same whitespace tokens).
    A tier entry of its own (``frames.tier``) so a consensus query
    (d21) that runs three families tokenizes the corpus ONCE, while
    each family run standalone still builds exactly this frame. Input
    is fanned out first: one small parquet file must not become one
    task doing all the hashing."""
    return tier(_tokens, df, id_col=id_col, text_col=text_col)


def _shingles(tok: DataFrame, n: int) -> DataFrame:
    return tok.select(
        "_id", F.array_distinct(shingles_zip(F.col("_tk"), n)).alias("_sh")
    ).filter(F.size("_sh") > 0)


def _shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, _sh) tiered frame of distinct shingles, built in two
    materialized steps (tokens, then zip_with window) so per-row cost
    is one tokenize + O(n) array passes — not the O(n*len) inlined
    recompute Catalyst's projection collapse would otherwise produce.
    The tokens stage is ``token_frame`` (own tier entry), so the other
    dedup families can share it."""
    return tier(_shingles, token_frame(df, id_col, text_col), n=n)


def _minhash_signatures(base: DataFrame, num_hashes: int) -> DataFrame:
    return base.select(
        "_id", "_sh", minhash_signature(F.col("_sh"), num_hashes).alias("_sig")
    )


def _signature_frame(base: DataFrame, num_hashes: int) -> DataFrame:
    """(_id, _sh, _sig) tiered MinHash signatures over a shingle
    frame. Materialized BEFORE any self-join: every join branch would
    otherwise re-plan (and re-codegen) the 64-perm HOF expression —
    and Catalyst's projection collapse would inline it into every band
    lambda (16× recompute per row, interpreted — 300 s for 5 k docs vs
    3 s materialized)."""
    return tier(_minhash_signatures, base, num_hashes=num_hashes)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedupe_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per identical text (hash-groupBy;
    one shuffle on the 128-bit content hash)."""
    h = F.md5(F.col(text_col).cast("binary"))
    keepers = (
        df.select(F.col(id_col), h.alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingle_col: Column, num_hashes: int = 64) -> Column:
    """num_hashes-permutation MinHash as array<long>: perm i =
    min over shingles of xxhash64(i, shingle). Empty shingle set →
    sentinel MAX_LONG signature."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.aggregate(
            shingle_col,
            F.lit(_MAX_LONG),
            lambda acc, s: F.least(acc, F.xxhash64(i, s)),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH with exact-Jaccard
    verification → (id_a, id_b, jaccard).

    rows/band r = num_hashes/bands; candidate recall follows the usual
    1-(1-s^r)^b S-curve. Verification recomputes true Jaccard on the
    shingle sets, so false positives from banding never escape.

    The pair OUTPUT is deliberately NOT cached (r13, r12-verdict #7):
    d01's declared result IS this frame, and tiering final results
    would cross from intermediate caching into result caching. The
    expensive shared stages (token/shingle/signature frames) keep
    their ``frames.tier`` entries; consumers that
    iterate over the pairs (d05's connected components) persist their
    own derived frames.
    """
    assert num_hashes % bands == 0
    sig = _signature_frame(_shingle_frame(df, id_col, text_col, shingle_n), num_hashes)
    verified = _banded_pair_counts(sig, _xxhash_banded_frame(sig, bands, num_hashes // bands))
    jac = F.col("_inter").cast("double") / (F.col("_n_a") + F.col("_n_b") - F.col("_inter"))
    return verified.filter(jac >= jaccard_threshold).select(
        "id_a", "id_b", F.round(jac, 4).alias("jaccard")
    )


def _xxhash_banded_frame(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(_id, _band, _bucket) band keys over an xxhash64 signature frame:
    the key is xxhash64 of the band index and the signature slice."""
    return sig.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(b, F.slice(F.col("_sig"), b * r + 1, r)),
            )
        ).alias("_band", "_bucket"),
    )


def _banded_pair_counts(sig: DataFrame, banded: DataFrame) -> DataFrame:
    """The candidate-and-verify body of both LSH pipelines →
    (id_a, id_b, _inter, _n_a, _n_b): distinct pairs that share a band
    key of ``banded`` (every non-``_id`` column), with their exact
    shingle intersection count and both set sizes from ``sig``.

    POSTING-GRAIN verification (round 12): the intersection count
    comes from two (id, shingle) equi-joins instead of carrying both
    full shingle ARRAYS through the candidate shuffle — the array
    payload (tens of KB per candidate row at production widths) was
    the measured single-node spill ceiling at x256 (SCALING.md d21
    note). Posting rows are ~40 bytes, spill incrementally, and the
    per-pair count partial-aggregates map-side. LSH candidates are
    selective; the dense anchored set of d24/s34 takes the array shape
    instead (see ``join_pair_sides``)."""
    band_key = [c for c in banded.columns if c != "_id"]
    candidates = (
        banded.withColumnRenamed("_id", "id_a")
        .join(banded.withColumnRenamed("_id", "id_b"), band_key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    post = sig.select("_id", F.explode("_sh").alias("_s"))
    inter_cnt = (
        candidates.join(post.withColumnRenamed("_id", "id_a"), "id_a")
        .join(
            post.select(F.col("_id").alias("_idb"), F.col("_s").alias("_s_b")),
            (F.col("id_b") == F.col("_idb")) & (F.col("_s") == F.col("_s_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return join_pair_sides(inter_cnt, sig.select("_id", F.size("_sh").alias("_n")))


def portable_signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """(_id, _sh, _sig) tiered engine-portable MinHash signatures:
    permutation k of the base Horner hash h is ``(h·(2k+1) + k) mod P``
    — exact int64 arithmetic DuckDB replays bit-for-bit. Shared by the
    d09 pair pipeline and the d14 S-curve audit (one ``frames.tier``
    entry → built once per corpus sweep); materialized before the
    self-join (the d01 inlining lesson)."""
    base = _shingle_frame(df, id_col, text_col, shingle_n)
    return tier(_portable_signatures, base, num_hashes=num_hashes)


def _portable_signatures(base: DataFrame, num_hashes: int) -> DataFrame:
    from .sketch import _P1, portable_hash

    hashed = base.select(
        "_id",
        "_sh",
        F.transform("_sh", lambda s: portable_hash(s)).alias("_hs"),
    )
    sig_col = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda k: F.aggregate(
            F.col("_hs"),
            F.lit(_P1).cast("bigint"),
            lambda acc, h: F.least(acc, (h * (k * 2 + 1) + k) % F.lit(_P1)),
        ),
    )
    return hashed.select("_id", "_sh", sig_col.alias("_sig"))


def portable_banded_frame(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(_id, _band, _bsig) band keys over a portable signature frame:
    the band key is the signature slice rendered as a string (a
    Spark-only hash of the slice would not replay in the oracle)."""
    return sig.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("_sig"), b * r + 1, r), lambda v: v.cast("string")
                    ),
                ),
            )
        ).alias("_band", "_bsig"),
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """``minhash_lsh_pairs`` on the engine-portable hash family — the
    hash-checked oracle twin of d01's xxhash64 pipeline (same shingle →
    signature → band-bucket → verified-Jaccard shape, every stage exact
    integer arithmetic DuckDB reproduces bit-for-bit).

    Permutation k of the base Horner hash h is ``(h·(2k+1) + k) mod P``;
    the band key is the signature slice itself rendered as a string
    (xxhash64-of-slice is Spark-only). Verification recomputes TRUE
    Jaccard on the shingle sets, so banding false positives never
    escape — identical guarantee to d01. Returns
    ``(id_a, id_b, n_inter, n_union, jaccard)``.

    Scale shape is d01's: candidates only form inside a (band, bandsig)
    bucket — one shuffle on the bucket key, never an n² self-join. The
    char-fold hash costs more per shingle than xxhash64, so d01 stays
    the production default; this twin exists to put the whole LSH
    family under the driver's hash-checked oracle gate.
    """
    assert num_hashes % bands == 0
    sig = portable_signature_frame(df, id_col, text_col, num_hashes, shingle_n)
    verified = _banded_pair_counts(sig, portable_banded_frame(sig, bands, num_hashes // bands))
    inter = F.col("_inter")
    union = F.col("_n_a") + F.col("_n_b") - inter
    jac = inter.cast("double") / union
    return verified.filter(jac >= jaccard_threshold).select(
        "id_a",
        "id_b",
        inter.cast("bigint").alias("n_inter"),
        union.cast("bigint").alias("n_union"),
        # raw IEEE ratio of two small ints — callers apply portable
        # rounding (plans.money.fround) when hash-compared
        jac.alias("jaccard"),
    )


def anchored_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    max_df: int = 20,
) -> DataFrame:
    """Tiered distinct ``(id_a, id_b)`` pairs sharing at least one
    RARE shingle hash (document frequency in [2, max_df] — the t40
    anchor cap, bounding the self-join by df² per shingle, never
    corpus²). The shared ground-truth pair set of the d14/d15
    calibration audits: both consume it more than once (Jaccard
    scoring + banding catch check), so it is a ``frames.tier`` entry
    (evict via ``frames.clear_frame_cache``)."""
    base = _shingle_frame(df, id_col, text_col, shingle_n)
    return tier(_anchored_pairs, base, max_df=max_df)


def _anchored_pairs(base: DataFrame, max_df: int) -> DataFrame:
    from .sketch import portable_hash

    px = base.select(
        "_id",
        F.explode(F.transform("_sh", lambda s: portable_hash(s))).alias("_h"),
    ).distinct()
    freq = (
        px.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("_h")
    )
    pxf = px.join(freq, "_h", "left_semi")
    return (
        pxf.select(F.col("_id").alias("id_a"), "_h")
        .join(pxf.select(F.col("_id").alias("id_b"), "_h"), "_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def join_pair_sides(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """``pairs`` (id_a, id_b) with every non-``_id`` column of the
    per-document frame ``sets`` joined on for each side, suffixed
    ``_a``/``_b`` (``_sh`` → ``_sh_a``, ``_sh_b``). The verify join of
    the anchored-pair family (d14, d15, d18, d24, s34): both sides'
    arrays cross the pair shuffle once and are compared locally, which
    beats posting-grain joins on that dense candidate set."""
    cols = [c for c in sets.columns if c != "_id"]
    for side in ("a", "b"):
        pairs = pairs.join(
            sets.select(
                F.col("_id").alias(f"id_{side}"),
                *(F.col(c).alias(f"{c}_{side}") for c in cols),
            ),
            f"id_{side}",
        )
    return pairs


def minhash_dedupe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Greedy LSH dedup WITHOUT pair enumeration → surviving rows.

    On a near-dup-dense corpus the pair list is O(n²) no matter how
    good the index is; the dedup *decision* isn't. Each doc is removed
    if any LSH bucket it occupies contains a smaller id (greedy
    min-id representative, one groupBy + one join — linear-ish in n).
    Chains longer than one hop keep extra docs vs full connected
    components; acceptable for greedy training-data dedup and fully
    deterministic.
    """
    assert num_hashes % bands == 0
    sig = _signature_frame(_shingle_frame(df, id_col, text_col, shingle_n), num_hashes)
    banded = _xxhash_banded_frame(sig, bands, num_hashes // bands).persist()
    bucket_min = banded.groupBy("_band", "_bucket").agg(F.min("_id").alias("_min_id"))
    keeper_ids = (
        banded.join(bucket_min, ["_band", "_bucket"])
        .groupBy("_id")
        .agg(F.min("_min_id").alias("_partner"))
        .filter(F.col("_partner") >= F.col("_id"))
        .select(F.col("_id").alias(id_col))
    )
    return df.join(keeper_ids, id_col, "left_semi")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens: per bit j, sign of
    Σ_tokens (bit_j(xxhash64(token)) ? +1 : −1); bits packed with OR
    (no arithmetic overflow under ANSI mode).

    Shift counts must be Python literals (shiftright takes int), so the
    bit loop unrolls to 64 aggregate expressions over the pre-hashed
    token array — all JVM-side. NOTE: the 64 votes each reference the
    hash array; pass a MATERIALIZED column (see simhash_pairs) or the
    tokenizer is inlined and recomputed 64x per row."""
    return simhash_from_hashes(F.transform(tokens(text), lambda t: F.xxhash64(t)))


def simhash_from_hashes(hashes: Column) -> Column:
    """SimHash from a pre-hashed array<long> token column.

    Per bit j: sign of Σ_tokens (bit_j set ? +1 : −1); the bit masks
    live in ONE array<bigint> plan literal (top bit is the negative
    two's-complement value), so the whole 64-bit vote is a single
    nested-HOF expression — the 64-way unrolled alternative costs one
    py4j round-trip per expression node (~seconds of driver time per
    plan build). Selected masks are summed: distinct powers of two, so
    sum == OR, and adding the negative top mask cannot overflow under
    ANSI mode."""
    from .similarity import const_array

    masks = const_array(
        [(1 << j) if j < 63 else -(1 << 63) for j in range(64)], "bigint"
    )
    return F.aggregate(
        F.transform(
            masks,
            lambda m: F.when(
                F.aggregate(
                    hashes,
                    F.lit(0),
                    lambda acc, h: acc
                    + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
                )
                >= 0,
                m,
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _token_hashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("_hs"),
    )


def _simhashes(hashed: DataFrame) -> DataFrame:
    return hashed.select("_id", simhash_from_hashes(F.col("_hs")).alias("_sim"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming → (id_a, id_b,
    hamming). Blocking: split the 64-bit hash into max_hamming+1
    equal-width chunks — by pigeonhole a pair within the distance bound
    has fewer differing bits than chunks, so it shares ≥1 exact chunk
    and candidates form only inside chunk buckets (same LSH-style scale
    story as MinHash banding). Deriving the chunk count from the bound
    keeps the guarantee for ANY max_hamming (a fixed 4-chunk split is
    only complete up to distance 3)."""
    n_chunks = max_hamming + 1
    assert n_chunks <= 64, "max_hamming must leave at least 1 bit per chunk"
    # even bit split covering all 64 bits: chunk c = bits [64c/n, 64(c+1)/n)
    bounds = [(64 * c // n_chunks, 64 * (c + 1) // n_chunks) for c in range(n_chunks)]
    # the hashed tokens are a tier entry of their own: a barrier so the
    # 64 votes read a materialized array, not 64 inlined tokenizers
    hashed = tier(_token_hashes, df, id_col=id_col, text_col=text_col)
    sigs = tier(_simhashes, hashed)

    def chunk(lo: int, hi: int):
        c = F.shiftright(F.col("_sim"), lo)
        # full-width chunk (max_hamming=0) needs no mask — and its mask
        # literal would overflow a signed 64-bit int under ANSI mode
        return c if hi - lo == 64 else c.bitwiseAND(F.lit((1 << (hi - lo)) - 1))

    chunk_keys = F.array(*[chunk(lo, hi) for lo, hi in bounds])
    chunked = sigs.select("_id", "_sim", F.posexplode(chunk_keys).alias("_chunk", "_key"))
    a = chunked.select(F.col("_id").alias("id_a"), F.col("_sim").alias("_sim_a"), "_chunk", "_key")
    b = chunked.select(F.col("_id").alias("id_b"), F.col("_sim").alias("_sim_b"), "_chunk", "_key")
    return (
        a.join(b, ["_chunk", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("_sim_a"), F.col("_sim_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Connected-components dedup (transitive closure over candidate pairs)
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) labels via iterative min-label propagation —
    the Pregel-style pattern (GraphX's CC without GraphX): each round,
    every node takes the min of its own label and its neighbors'; fixed
    point = connected components.

    Converges in O(component diameter) rounds — near-dup chains are
    shallow, so a handful of shuffles in practice. Each round is one
    join + one groupBy over the edge list; edges and the current label
    frame are persisted so round N doesn't replay rounds 1..N-1 (the
    lineage would otherwise grow exponentially). Driver involvement is
    one convergence count() per round, never row data.
    """
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    # init = the first propagation round, uncounted: label = min(id,
    # direct neighbors). Near-dup components are mostly diameter 1-2,
    # so this converges one counted round earlier (each counted round
    # costs a full join+count job — the dominant loop cost on sparse
    # edge lists).
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_mn"))
        .select("id", F.least(F.col("id"), F.col("_mn")).alias("label"))
        .persist()
    )
    store = labels  # the actually-persisted frame (labels may be a projection of it)
    changed = 1
    for _ in range(max_iter):
        neigh = (
            sym.join(
                labels.select(F.col("id").alias("src"), F.col("label").alias("src_label")),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("src_label").alias("min_neigh"))
            .select(F.col("dst").alias("id"), "min_neigh")
        )
        # one join per round: the new label AND the moved flag come out
        # of the same labels ⋈ neigh pass (a second labels join merely
        # to diff old vs new would double the per-round shuffle count —
        # round latency is the whole cost of this loop on sparse edges)
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("min_neigh", "label")).alias("label"),
                (F.coalesce("min_neigh", "label") < F.col("label")).alias("_moved"),
            )
            # localCheckpoint, not persist: `labels` appears twice per
            # round (via neigh and directly), so an un-truncated lineage
            # DOUBLES the logical plan every round — fine for the 2-4
            # rounds near-dup graphs need, exponential analysis cost on
            # deep chains. Lazy: the count() below materializes it.
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("_moved")).count()
        store.unpersist()
        store = new_labels
        labels = new_labels.drop("_moved")
        if changed == 0:
            break
    else:
        # loop exhausted max_iter with labels still moving: a component
        # of diameter > max_iter would be silently split — downstream
        # dedup would then KEEP extra duplicates with no signal. Refuse
        # to be silent about it.
        import warnings

        warnings.warn(
            f"connected_components: labels still changing after {max_iter} "
            f"iterations ({changed} moved last round) — components with "
            f"diameter > max_iter are split; raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def components_within_groups(
    edges: DataFrame,
    group_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id, label) for edge lists whose components CANNOT cross
    ``group_col`` — e.g. SemDeDup's within-cell pairs, where every edge
    has both endpoints in one IVF cell by construction. One shuffle on
    the group key, then an exact union-find per group inside an Arrow
    batch (``applyInPandas``): per-task memory is O(|group| edges), the
    same bound the group-confined pair join upstream already implies —
    growing nlist with n keeps it constant.

    Contract matches ``connected_components`` (label = min member id)
    but costs ONE shuffle instead of one join+groupBy+count round per
    component diameter — on a 2000-node corpus that is the difference
    between ~0.5 s and ~15 s of scheduling floor, and at 100 TB it
    removes the iterative driver loop entirely. Use the global
    ``connected_components`` only when edges can span groups.
    """
    import pandas as pd

    id_type = edges.schema[id_a].dataType.simpleString()

    def _cc(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf[id_a], pdf[id_b]):
            a, b = a.item() if hasattr(a, "item") else a, b.item() if hasattr(b, "item") else b
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        members: dict = {}
        for x in parent:
            members.setdefault(find(x), []).append(x)
        rows = []
        for mem in members.values():
            lab = min(mem)
            rows.extend((x, lab) for x in mem)
        return pd.DataFrame(rows, columns=["id", "label"])

    return edges.groupBy(group_col).applyInPandas(
        _cc, f"id {id_type}, label {id_type}"
    )


def minhash_dedupe_cc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Full transitive dedup: LSH pairs → verified Jaccard edges →
    connected components → keep the min-id doc per component (plus all
    docs in no component). Unlike the greedy ``minhash_dedupe``, a
    chain A~B~C collapses to exactly one keeper even when A and C
    share no bucket.
    """
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, jaccard_threshold
    ).select("id_a", "id_b")
    comp = connected_components(pairs)
    keepers_in_comp = comp.groupBy("label").agg(F.min("id").alias(id_col)).select(id_col)
    drop = comp.select(F.col("id").alias(id_col)).exceptAll(keepers_in_comp)
    return df.join(drop, id_col, "left_anti")


# Below this row count the operator is scheduling-floor-bound and the
# AQE-under-cache scope pays; above it the pair stage needs the full
# static parallelism (see the regime note inside semdedup).
_SEMDEDUP_AQE_CACHE_MAX_ROWS = 10_000


def semdedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    cos_threshold: float = 0.35,
    seed: int = 42,
) -> DataFrame:
    """Semantic dedup over an embedding column, SemDeDup-style (Abbas et
    al. 2023): k-means-cluster the space, find near-duplicate pairs only
    WITHIN each cluster, collapse each within-cluster duplicate group to
    one representative. Returns one row per input vector:
    ``(id, cell, component, kept)`` — ``component`` null for vectors in
    no duplicate group, ``kept`` false only for dropped duplicates.

    Scale shape: the clustering reuses the IVF index
    (operators/similarity.ivf_index — bounded driver state, one
    assignment pass); the pair join is an equi-join on the cell id, so
    compute is Σ|cell|² instead of n² and NO pair crosses clusters —
    exactly the recall trade SemDeDup makes (cross-cluster near-dups
    survive; the paper measures that loss as small because near-dups
    co-locate). Growing nlist with n keeps |cell| ~ constant, so the
    per-task work is bounded. Representative choice follows the paper:
    keep the member FARTHEST from its cluster centroid (lowest
    centroid-cosine; deterministic min-id tiebreak).
    """
    # Scope AQE's cached-plan re-partitioning to THIS operator, and only
    # in the SMALL-INPUT regime: with few vectors the cost is a ~10-job x
    # 32-task scheduling floor, and letting AQE coalesce the tiny
    # persisted intermediates removes it (measured 3.5s -> 1.6s at
    # sf0.1). Past the threshold the within-cell pair join is
    # compute-dense — quadratic work per cell — and coalescing the
    # cached frame by its (small) byte size starves it of parallelism
    # (measured 449s -> 1228s at the x64 stress tier), so large inputs
    # keep the default. The conf stays false globally because
    # compute-dense joins (PPJoin) collapse under it — see session.py.
    n = vectors.count()
    if n > _SEMDEDUP_AQE_CACHE_MAX_ROWS:
        return _semdedup_inner(vectors, id_col, vec_col, nlist, cos_threshold, seed)
    sess = vectors.sparkSession
    _aqe_key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    try:
        _aqe_prev = sess.conf.get(_aqe_key)
    except Exception:  # noqa: BLE001 - unset on some builds
        _aqe_prev = None
    sess.conf.set(_aqe_key, "true")
    try:
        return _semdedup_inner(vectors, id_col, vec_col, nlist, cos_threshold, seed)
    finally:
        if _aqe_prev is None:
            sess.conf.unset(_aqe_key)
        else:
            sess.conf.set(_aqe_key, _aqe_prev)


def _semdedup_inner(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int,
    cos_threshold: float,
    seed: int,
) -> DataFrame:
    from .similarity import cached_ivf_index, const_array, cosine, l2_norm

    assigned, centroids = cached_ivf_index(vectors, nlist, id_col, vec_col, seed)

    cent_arr = F.array(*[const_array(c) for c in centroids])
    base = (
        assigned.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "_cell")
        .withColumn("_n", l2_norm(F.col("_v")))
        .withColumn("_u", F.transform("_v", lambda x: x.cast("double") / F.col("_n")))
        # centroid-cosine decides the representative (farthest kept)
        .withColumn("_ccos", cosine(F.col("_v"), F.element_at(cent_arr, F.col("_cell") + 1)))
        .select("_id", "_cell", "_u", "_ccos")
        .persist()
    )
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_cell"), F.col("_u").alias("_ua")
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_cell"), F.col("_u").alias("_ub")
    )
    pair_cos = F.aggregate(
        F.zip_with("_ua", "_ub", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    edges = (
        a.join(b, "_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_cos >= cos_threshold)
        .select("_cell", "id_a", "id_b")
    )
    # edges are cell-confined by construction -> per-cell union-find
    # (one shuffle), not the global iterative connected_components
    comp = components_within_groups(edges, "_cell")
    from pyspark.sql import Window as W

    labeled = comp.join(base.select(F.col("_id").alias("id"), "_ccos"), "id")
    w = W.partitionBy("label").orderBy(F.col("_ccos").asc(), F.col("id").asc())
    keep_in_comp = labeled.withColumn("_rk", F.row_number().over(w)).select(
        "id", "label", (F.col("_rk") == 1).alias("kept")
    )
    out = (
        base.select(F.col("_id").alias(id_col), F.col("_cell").alias("cell"))
        .join(
            keep_in_comp.select(
                F.col("id").alias(id_col), F.col("label").alias("component"), "kept"
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            "cell",
            "component",
            F.coalesce(F.col("kept"), F.lit(True)).alias("kept"),
        )
        # materializing the (id, cell, component, kept) verdict — 4 narrow
        # columns — lets every upstream persist be released now instead
        # of leaking into the caller's session.
        .persist()
    )
    out.count()
    base.unpersist()
    return out


def dedupe_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_w: int = 8,
) -> DataFrame:
    """C4-style exact segment dedup with reconstruction (Raffel et al.
    2020's span-dedup pass): split each document into non-overlapping
    ``seg_w``-token segments, keep only each distinct segment's FIRST
    corpus occurrence (min (id, seg_idx) — deterministic and
    partition-independent), reassemble the surviving segments in order.

    Returns one row per input document: (id, n_segs, n_kept_segs,
    kept_tokens, clean_md5) where clean_md5 fingerprints the
    reconstructed text. Keeper selection is a groupBy-min on the
    segment hash plus a semi equi-join back — partial-aggregation
    friendly, unlike a row_number window over the hash whose per-key
    partitions skew under mega-duplicated spans. Reassembly is
    sort_array(collect_list) bounded by document length. Backs the t29
    query and the scale harness."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    starts = F.sequence(F.lit(1), F.size("ts"), F.lit(seg_w))
    segs = (
        df.select(F.col(id_col).alias("_id"), toks.alias("ts"))
        .select("_id", "ts", F.posexplode(starts).alias("seg_idx", "start"))
        .select(
            "_id",
            "seg_idx",
            F.concat_ws(" ", F.slice("ts", F.col("start"), seg_w)).alias("seg"),
            F.size(F.slice("ts", F.col("start"), seg_w)).alias("seg_toks"),
        )
    )
    winners = segs.groupBy(F.md5("seg").alias("h")).agg(
        F.min(F.struct("_id", "seg_idx")).alias("w")
    )
    kept = (
        segs.join(
            winners,
            (F.md5(segs["seg"]) == winners["h"])
            & (segs["_id"] == winners["w._id"])
            & (segs["seg_idx"] == winners["w.seg_idx"]),
            "left_semi",
        )
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept_segs"),
            F.sum("seg_toks").alias("kept_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("seg_idx", "seg"))),
                        lambda s: s["seg"],
                    ),
                )
            ).alias("clean_md5"),
        )
    )
    totals = segs.groupBy("_id").agg(F.count(F.lit(1)).alias("n_segs"))
    return totals.join(kept, "_id", "left").select(
        F.col("_id").alias(id_col),
        "n_segs",
        F.coalesce(F.col("n_kept_segs"), F.lit(0)).alias("n_kept_segs"),
        F.coalesce(F.col("kept_tokens"), F.lit(0).cast("bigint")).alias("kept_tokens"),
        F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Duplicated-span detection core (shared by the t40/t41 queries and the
# scale harness)
# ---------------------------------------------------------------------------

def _positional_shingle_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int,
) -> DataFrame:
    """(_id, _pos, _h) tiered frame of POSITIONED w-token shingle
    hashes (1-based position). Persisted because every consumer reads
    it at least three times (document-frequency pass + both sides of
    the anchored self-join) and Catalyst's projection collapse would
    otherwise inline tokenize+shingle+md5 into each read — the same
    recompute trap ``_shingle_frame`` exists to avoid. A
    ``frames.tier`` entry (evict via ``frames.clear_frame_cache``)."""
    return tier(_positional_shingles, df, id_col=id_col, text_col=text_col, w=w)


def _positional_shingles(df: DataFrame, id_col: str, text_col: str, w: int) -> DataFrame:
    toks = (
        fan_out(df)
        .select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk"))
        .filter(F.size("_tk") >= w)
    )
    return toks.select(
        "_id", F.posexplode(shingles_zip(F.col("_tk"), w)).alias("_pos0", "_s")
    ).select("_id", (F.col("_pos0") + 1).alias("_pos"), F.md5(F.col("_s")).alias("_h"))


def dup_span_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 8,
    max_df: int = 20,
) -> DataFrame:
    """Shared token RUNS across doc pairs → one row per maximal run:
    ``(doc_a, doc_b, run_shingles, j0)`` with ``doc_a < doc_b``,
    ``run_shingles`` the run length in w-token shingles (tokens =
    run_shingles + w - 1) and ``j0`` the run's start position in
    ``doc_b`` (1-based).

    Method: every w-token shingle carries its position; matching
    shingles across a pair land on a (pos_a - pos_b) DIAGONAL, and
    consecutive positions on one diagonal are recovered as runs with
    the gaps-and-islands trick (pos - row_number is constant within a
    run) — equi-joins and windows only, no per-pair alignment.

    ``max_df`` is the rare-anchor cap: shingles appearing in more docs
    are boilerplate and skipped, bounding the match join by df² per
    shingle instead of corpus-quadratic. Size it against the expected
    duplication depth (a corpus where every doc has K copies needs
    max_df > K or true duplicate runs fall to the cap — measured in
    SCALING.md, where the harness scales the cap with the replication
    factor).

    The positional-shingle frame is a ``frames.tier`` entry, so the
    t40/t41 pair reads it once instead of shingling the corpus per
    query.
    """
    sh = _positional_shingle_frame(df, id_col, text_col, w)
    freq = (
        sh.groupBy("_h")
        .agg(F.countDistinct("_id").alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("_h")
    )
    anchored = sh.join(freq, "_h", "left_semi")
    a = anchored.select(F.col("_id").alias("doc_a"), F.col("_pos").alias("_i"), "_h")
    b = anchored.select(F.col("_id").alias("doc_b"), F.col("_pos").alias("_j"), "_h")
    m = a.join(b, "_h").filter(F.col("doc_a") < F.col("doc_b"))
    from pyspark.sql import Window as W

    isl = m.select(
        "doc_a", "doc_b", (F.col("_i") - F.col("_j")).alias("_diag"), "_i", "_j"
    ).withColumn(
        "_island",
        F.col("_i")
        - F.row_number().over(W.partitionBy("doc_a", "doc_b", "_diag").orderBy("_i")),
    )
    return isl.groupBy("doc_a", "doc_b", "_diag", "_island").agg(
        F.count(F.lit(1)).alias("run_shingles"), F.min("_j").alias("j0")
    ).select("doc_a", "doc_b", "run_shingles", "j0")
