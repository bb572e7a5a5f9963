"""Streaming incremental near-duplicate filtering: dedup newly arriving
documents against everything already accepted, the foreachBatch analog
of a crawl-ingest pipeline ("is this page a near-dup of the corpus?").

State is a parquet SIGNATURE STORE, not raw text: one row per accepted
doc per LSH band — ``(band, bucket, doc_id, sig)`` — so the per-batch
membership check is an equi-join of the batch's band buckets against the
store (bucket collisions only), followed by signature-estimate
verification. The store grows with the ACCEPTED corpus (num_bands rows
per doc, ~64 longs each), never with the raw bytes; at 100 TB it is the
table you would partition by ``band`` and bucket-sort by ``bucket`` so
each batch's probe is a co-located join.

Verification uses the unbiased MinHash estimate (matching signature
fraction ≈ Jaccard) rather than exact shingle intersection — the
standard trade once originals are no longer co-resident: no second pass
over accepted text, at the cost of the estimator's ±1/sqrt(k) noise
(k = num_hashes). Batch-internal duplicates are resolved first with the
same estimate (greedy min-id keeper), so a batch containing both a new
doc and its near-copy admits exactly one.

Exactly-once: outputs and state are ``streaming/epochs`` stores, and
every membership probe reads only epochs before the current one, so a
replayed micro-batch reaches the identical accept/drop verdicts and
rewrites the same bytes.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..operators.dedup import minhash_signature, shingles_of
from .epochs import fold_epoch, read_before, read_latest, start_file_stream, write_epoch


def _banded(sig_frame: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, sig) -> one row per band: (band, bucket, doc_id, sig)."""
    r = num_hashes // bands
    return sig_frame.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(b, F.slice(F.col("sig"), b * r + 1, r)),
            )
        ).alias("band", "bucket"),
    )


def _sig_jaccard_est(a: Column, b: Column) -> Column:
    """Unbiased MinHash Jaccard estimate: fraction of equal components."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.size(a)


def start_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    accepted_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Drain ``source_dir`` (JSONL docs), append only corpus-novel docs
    to ``accepted_dir`` and their band signatures to ``state_dir``."""

    def _dedup_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        sigs = (
            batch_df.select(
                F.col(id_col).alias("doc_id"),
                shingles_of(F.col(text_col), shingle_n).alias("_sh"),
            )
            .filter(F.size("_sh") > 0)
            # materialize before banding: Catalyst would otherwise inline
            # the 64-perm HOF into every band lambda (see operators/dedup)
            .select("doc_id", minhash_signature(F.col("_sh"), num_hashes).alias("sig"))
            .persist()
        )
        banded = _banded(sigs, num_hashes, bands).persist()
        banded.count()

        # 1) duplicates of the ACCEPTED corpus: bucket-collide with the
        # store, verify by signature estimate (id != self, so a doc id
        # accepted in an earlier epoch and re-sent is not its own dup)
        store = read_before(s, state_dir, epoch_id)
        if store is not None:
            hits = (
                banded.join(
                    store.select(
                        "band",
                        "bucket",
                        F.col("doc_id").alias("_st_id"),
                        F.col("sig").alias("_st_sig"),
                    ),
                    ["band", "bucket"],
                )
                .filter(F.col("doc_id") != F.col("_st_id"))
                .filter(_sig_jaccard_est(F.col("sig"), F.col("_st_sig")) >= jaccard_threshold)
                .select("doc_id")
                .distinct()
            )
            survivors = sigs.join(hits, "doc_id", "left_anti")
        else:
            survivors = sigs

        # 2) duplicates WITHIN the batch: greedy min-id keeper over
        # verified bucket collisions among survivors
        sb = _banded(survivors, num_hashes, bands)
        a = sb.select(F.col("doc_id").alias("id_a"), "band", "bucket", F.col("sig").alias("_sa"))
        b = sb.select(F.col("doc_id").alias("id_b"), "band", "bucket", F.col("sig").alias("_sb"))
        intra = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(_sig_jaccard_est(F.col("_sa"), F.col("_sb")) >= jaccard_threshold)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        kept = survivors.join(intra, "doc_id", "left_anti").select("doc_id", "sig").persist()

        # 3) idempotent writes: per-batch overwrite directories
        out = batch_df.join(
            kept.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
        )
        write_epoch(out, accepted_dir, epoch_id)
        banded_kept = _banded(kept, num_hashes, bands).select("band", "bucket", "doc_id", "sig")
        write_epoch(banded_kept, state_dir, epoch_id)
        sigs.unpersist()
        banded.unpersist()
        kept.unpersist()

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _dedup_batch
    )


def start_exact_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    accepted_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 8192,
    k_hashes: int = 5,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming EXACT dedup with a Bloom pre-filter: admit a doc iff
    its content hash has never been accepted.

    Per batch: (1) batch-internal keep-min-id per content hash, (2) a
    Bloom membership probe against the accepted corpus's bit table —
    no false negatives, so Bloom-NEGATIVE docs are definitively new and
    skip the store entirely; only Bloom-positive hashes (true dups +
    the ~fp-rate sliver) pay the equi-join against the full hash store.
    At steady state most arrivals are novel, so the store join scans a
    small fraction of the batch — the bit table is O(m) bounded and
    broadcast, while the hash store grows with the corpus.

    State layout (``streaming/epochs`` stores):
      ``{state_dir}/hashes/batch_id=N`` — accepted (h) rows (log store),
      ``{state_dir}/bloom/batch_id=N``  — every set bit position so far
        (snapshot store, at most m rows),
      ``{state_dir}/metrics/batch_id=N`` — one row:
        (n_in, n_batch_unique, n_bloom_negative, n_store_checked,
        n_kept) so the pruning ratio is observable.
    """
    from ..operators.sketch import _portable_bucket

    hash_store = f"{state_dir}/hashes"
    bloom_store = f"{state_dir}/bloom"
    metrics_store = f"{state_dir}/metrics"

    def _positions(df: DataFrame) -> DataFrame:
        rows = F.array(*[F.lit(i) for i in range(k_hashes)])
        return df.select("h", F.explode(rows).alias("_i")).select(
            "h", _portable_bucket(F.col("h"), F.col("_i"), m_bits).alias("bit")
        )

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        hashed = batch_df.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(text_col).cast("binary")).alias("h")
        )
        # batch-internal: min-id keeper per content hash
        batch_unique = (
            hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id")).persist()
        )
        n_in = hashed.count()
        n_batch_unique = batch_unique.count()

        bits = read_latest(s, bloom_store, before=epoch_id)
        if bits is not None:
            probed = (
                _positions(batch_unique)
                .join(F.broadcast(bits.withColumn("_set", F.lit(1))), "bit", "left")
                .groupBy("h")
                .agg((F.count(F.col("_set")) == F.lit(k_hashes)).alias("_maybe"))
            )
            maybe = probed.filter(F.col("_maybe")).select("h")
            n_maybe = maybe.count()
            # only Bloom-positive hashes pay the store join; negatives
            # are PROVABLY new (no false negatives)
            seen = read_before(s, hash_store, epoch_id).select("h").join(maybe, "h", "left_semi")
            kept = batch_unique.join(seen, "h", "left_anti").persist()
        else:
            n_maybe = 0
            kept = batch_unique.persist()
        n_kept = kept.count()

        out = batch_df.join(
            kept.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
        )
        write_epoch(out, accepted_dir, epoch_id)
        write_epoch(kept.select("h"), hash_store, epoch_id)
        fold_epoch(_positions(kept).select("bit"), bloom_store, epoch_id, DataFrame.distinct)
        metrics = s.createDataFrame(
            [(n_in, n_batch_unique, n_batch_unique - n_maybe, n_maybe, n_kept)],
            "n_in bigint, n_batch_unique bigint, n_bloom_negative bigint, "
            "n_store_checked bigint, n_kept bigint",
        )
        write_epoch(metrics, metrics_store, epoch_id)
        batch_unique.unpersist()
        kept.unpersist()

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def start_segment_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    accepted_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_w: int = 8,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the t29 batch pass (operators/dedup.
    dedupe_segments): arriving documents are split into non-overlapping
    ``seg_w``-token segments, each segment survives only if its hash
    has never been accepted — neither earlier IN this batch (keep-min
    (id, seg_idx)) nor in any prior batch (anti-join against the
    persistent segment-hash store) — and each document is reassembled
    from its surviving segments before being written out.

    This is how a C4-style span-dedup runs on a GROWING corpus: the
    batch pass would re-dedup the whole corpus per delivery; here each
    micro-batch pays one groupBy over its own segments plus one
    equi-join against the store. State layout (``streaming/epochs``
    stores):
      ``{state_dir}/seghashes/batch_id=N`` — newly accepted (h) rows,
      ``{state_dir}/metrics/batch_id=N`` — (n_docs, n_segs,
        n_new_segs, n_docs_intact) per batch.
    Documents that lose EVERY segment still emit a row (empty
    clean_text) so downstream counts reconcile with arrivals."""
    seg_store = f"{state_dir}/seghashes"
    metrics_store = f"{state_dir}/metrics"

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        starts = F.sequence(F.lit(1), F.size("ts"), F.lit(seg_w))
        segs = (
            batch_df.select(F.col(id_col).alias("_id"), toks.alias("ts"))
            .select("_id", "ts", F.posexplode(starts).alias("seg_idx", "start"))
            .select(
                "_id",
                "seg_idx",
                F.concat_ws(" ", F.slice("ts", F.col("start"), seg_w)).alias("seg"),
                F.md5(F.concat_ws(" ", F.slice("ts", F.col("start"), seg_w))).alias("h"),
            )
            .persist()
        )
        n_segs = segs.count()
        # batch-internal keep-first, same rule as the batch operator
        winners = segs.groupBy("h").agg(F.min(F.struct("_id", "seg_idx")).alias("w"))
        first = segs.join(
            winners,
            (segs["h"] == winners["h"])
            & (segs["_id"] == winners["w._id"])
            & (segs["seg_idx"] == winners["w.seg_idx"]),
            "left_semi",
        )
        store = read_before(s, seg_store, epoch_id)
        if store is not None:
            kept_segs = first.join(store.select("h"), "h", "left_anti").persist()
        else:
            kept_segs = first.persist()
        n_new = kept_segs.count()

        rebuilt = kept_segs.groupBy("_id").agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda x: x["seg"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept_segs"),
        )
        totals = segs.groupBy("_id").agg(F.count(F.lit(1)).alias("n_segs"))
        out = (
            totals.join(rebuilt, "_id", "left")
            .select(
                F.col("_id").alias(id_col),
                F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
                "n_segs",
                F.coalesce(F.col("n_kept_segs"), F.lit(0)).alias("n_kept_segs"),
            )
        )
        write_epoch(out, accepted_dir, epoch_id)
        write_epoch(kept_segs.select("h").distinct(), seg_store, epoch_id)
        n_docs = totals.count()
        n_intact = out.filter(F.col("n_kept_segs") == F.col("n_segs")).count()
        metrics = s.createDataFrame(
            [(n_docs, n_segs, n_new, n_intact)],
            "n_docs bigint, n_segs bigint, n_new_segs bigint, n_docs_intact bigint",
        )
        write_epoch(metrics, metrics_store, epoch_id)
        segs.unpersist()
        kept_segs.unpersist()

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def start_semantic_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    accepted_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    cos_threshold: float = 0.9,
    seed: int = 42,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Online SemDeDup: drain ``source_dir`` (JSONL vectors), accept only
    vectors with NO accepted same-cell neighbor at ``cos >= threshold``
    — the embedding analog of start_dedup_stream's crawl-ingest filter.

    The IVF centroids are trained ONCE on the first non-empty batch
    (operators/similarity.ivf_index — deterministic given the
    checkpointed batch content, so a replayed first batch retrains
    identical centroids) and persisted to the ``state_dir``/centroids
    epoch store; every later batch reuses them as plan literals, so cell
    assignment is a map-only pass. Membership state is (cell, id, unit
    vector) for the accepted corpus: the per-batch probe is an equi-join
    on cell (Σ|cell|·|batch-cell| work, never n²), then exact cosine
    against the colliding members. Batch-internal duplicates collapse
    greedily to the min-id survivor within each cell. Cross-cell
    near-dups survive by design — the same recall trade batch semdedup
    makes and measures (d07).

    Exactly-once through the ``streaming/epochs`` layout. Invariants
    (no accepted same-cell pair above threshold; every rejection has an
    accepted same-cell witness) are pinned in tests/test_streaming.py.
    """
    from ..operators.similarity import l2_norm, make_cell_assigner

    members_dir = f"{state_dir}/members"
    centroids_dir = f"{state_dir}/centroids"

    def _centroids(s: SparkSession, batch_df: DataFrame, epoch_id: int) -> list[list[float]]:
        trained = read_before(s, centroids_dir, epoch_id)
        rows = trained.orderBy("cell").collect() if trained is not None else []
        if rows:
            return [[float(x) for x in r["c"]] for r in rows]
        from ..operators.similarity import ivf_index

        _assigned, cents = ivf_index(batch_df, nlist, id_col, vec_col, seed)
        write_epoch(
            s.createDataFrame([(i, c) for i, c in enumerate(cents)], "cell INT, c ARRAY<DOUBLE>"),
            centroids_dir,
            epoch_id,
        )
        return cents

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        cents = _centroids(s, batch_df, epoch_id)
        assign = make_cell_assigner(cents)
        vecs = (
            batch_df.select(
                F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
            )
            .withColumn("_nrm", l2_norm(F.col("_v")))
            .filter(F.col("_nrm") > 0)
            .withColumn("_u", F.transform("_v", lambda x: x.cast("double") / F.col("_nrm")))
            .withColumn("_cell", assign(F.col("_v")))
            .select("_id", "_cell", "_u")
            .persist()
        )
        vecs.count()
        cos = F.aggregate(
            F.zip_with("_u", "_mu", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        members = read_before(s, members_dir, epoch_id)
        if members is not None:
            hits = (
                vecs.join(
                    members.select(
                        F.col("cell").alias("_cell"),
                        F.col("id").alias("_mid"),
                        F.col("u").alias("_mu"),
                    ),
                    "_cell",
                )
                .filter(F.col("_id") != F.col("_mid"))
                .filter(cos >= cos_threshold)
                .select("_id")
                .distinct()
            )
            survivors = vecs.join(hits, "_id", "left_anti")
        else:
            survivors = vecs
        a = survivors.select(
            F.col("_id").alias("id_a"), "_cell", F.col("_u").alias("_ua")
        )
        b = survivors.select(
            F.col("_id").alias("id_b"), "_cell", F.col("_u").alias("_mu")
        )
        intra_cos = F.aggregate(
            F.zip_with("_ua", "_mu", lambda x, y: x * y), F.lit(0.0), lambda a_, x: a_ + x
        )
        intra = (
            a.join(b, "_cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(intra_cos >= cos_threshold)
            .select(F.col("id_b").alias("_id"))
            .distinct()
        )
        kept = survivors.join(intra, "_id", "left_anti").persist()

        accepted = batch_df.join(kept.select(F.col("_id").alias(id_col)), id_col, "left_semi")
        write_epoch(accepted, accepted_dir, epoch_id)
        members_new = kept.select(
            F.col("_cell").alias("cell"), F.col("_id").alias("id"), F.col("_u").alias("u")
        )
        write_epoch(members_new, members_dir, epoch_id)
        vecs.unpersist()
        kept.unpersist()

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def start_dedup_waterfall_stream(
    spark: SparkSession,
    source_dir: str,
    accepted_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_block: int = 32,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """The t55 three-stage dedup waterfall as ONE streaming ingest
    pipeline — exact hash → prefix subsumption → shingle fingerprint,
    each stage sequenced on the previous stage's survivors, with the
    cross-batch state each stage needs (plans/text.py t55 is the batch
    twin; the stage rules are identical).

    The streaming twist is RETRACTION: prefix subsumption can be
    triggered by a LATER arrival (a short doc is accepted, then the
    long doc it prefixes arrives). A batch engine removes the short
    doc; a stream cannot un-write it, so it writes a TOMBSTONE instead
    — the survivor set is accepted MINUS tombstones
    (``read_waterfall_survivors``), and tombstoned docs' fingerprints
    leave the probe universe exactly as a batch run's stage-2 removals
    never reach stage 3. With arrivals ordered by ascending doc id
    (crawl-ingest: monotone ids), the final survivor set is
    bit-identical to the batch waterfall over the union of all batches
    — pinned by the stream-vs-batch parity test.

    State stores (``streaming/epochs`` stores):
      ``{state_dir}/hashes``     — (h) of every exact-stage keeper,
      ``{state_dir}/texts``      — (blk, doc_id, len, text) of every
        exact-stage keeper: the stage-2 subsumer universe. Full text is
        genuinely required here (prefix verification reads the longer
        doc); at 100 TB this is the one store you'd bucket by ``blk``
        so each batch's probe is a co-located block join,
      ``{state_dir}/fps``        — (f, doc_id) of stage-3 survivors,
      ``{state_dir}/tombstones`` — (doc_id) retractions,
      ``{state_dir}/metrics``    — per-batch stage counts mirroring the
        t55 report columns.

    Every join is block- or hash-bounded: stage 1 is an equi-join on
    the content hash, stage 2 equi-joins on the ``prefix_block``-char
    block before any startswith verification (the d17 discipline), and
    stage 3 equi-joins on the min-shingle fingerprint — nothing
    enumerates cross-batch pairs."""
    from ..functions import text as X

    hash_store = f"{state_dir}/hashes"
    text_store = f"{state_dir}/texts"
    fp_store = f"{state_dir}/fps"
    tomb_store = f"{state_dir}/tombstones"
    metrics_store = f"{state_dir}/metrics"

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        s0 = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.length(text_col).cast("bigint").alias("len"),
            F.md5(F.col(text_col).cast("binary")).alias("h"),
            F.substring(text_col, 1, prefix_block).alias("blk"),
        )
        n_in = s0.count()

        # ---- stage 1: exact hash (batch-internal min-id keeper, then
        # the cross-batch hash store)
        keepers = s0.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("h").orderBy("doc_id")),
        ).filter(F.col("_rn") == 1).drop("_rn")
        seen_h = read_before(s, hash_store, epoch_id)
        s1 = (
            keepers.join(seen_h, "h", "left_anti") if seen_h is not None else keepers
        ).persist()
        n_s1 = s1.count()
        ex_removed = n_in - n_s1

        # ---- stage 2: prefix subsumption (d17's block equi-join).
        # Subsumer universe = ALL exact-stage keepers ever (a doc later
        # removed by stage 3 still subsumes — exactly as t55's pre_rm
        # ranges over s1, not s2), so the text store is NOT tombstone-
        # filtered; transitivity covers prefix-removed subsumers.
        stored_texts = read_before(s, text_store, epoch_id)
        if stored_texts is not None:
            universe = s1.select("doc_id", "len", "text", "blk").unionByName(
                stored_texts.select("doc_id", "len", "text", "blk")
            )
        else:
            universe = s1.select("doc_id", "len", "text", "blk")
        bside = universe.select(
            F.col("blk").alias("_blk2"),
            F.col("len").alias("_len2"),
            F.col("text").alias("_t2"),
        )
        arr_rm = (
            s1.join(bside, (s1["blk"] == bside["_blk2"]) & (s1["len"] < bside["_len2"]))
            .filter(F.col("_t2").startswith(F.col("text")))
            .select("doc_id")
            .distinct()
        )
        s2 = s1.join(arr_rm, "doc_id", "left_anti").persist()
        n_s2 = s2.count()
        pre_removed = n_s1 - n_s2

        # retractions: an already-accepted doc subsumed by THIS batch's
        # exact-stage keepers (the batch engine would have removed it)
        if stored_texts is not None:
            batch_b = s1.select(
                F.col("blk").alias("_blk2"),
                F.col("len").alias("_len2"),
                F.col("text").alias("_t2"),
            )
            tombs = (
                stored_texts.join(
                    batch_b,
                    (stored_texts["blk"] == batch_b["_blk2"])
                    & (stored_texts["len"] < batch_b["_len2"]),
                )
                .filter(F.col("_t2").startswith(F.col("text")))
                .select("doc_id")
                .distinct()
                .persist()
            )
        else:
            tombs = s.createDataFrame([], "doc_id bigint").persist()
        n_tombs = tombs.count()

        # ---- stage 3: shingle fingerprint. Probe universe = stored
        # stage-3 survivors MINUS every tombstone (batch semantics:
        # stage-2 removals never reach stage 3).
        toks = X.tokens(F.col("text"))
        fp = s2.filter(F.size(toks) >= 3).select(
            "doc_id", X.min_shingle_fingerprint(toks).alias("f")
        )
        fp_keep = fp.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("f").orderBy("doc_id")),
        ).filter(F.col("_rn") == 1).drop("_rn")
        stored_fps = read_before(s, fp_store, epoch_id)
        old_tombs = read_before(s, tomb_store, epoch_id)
        all_tombs = (
            tombs.unionByName(old_tombs) if old_tombs is not None else tombs
        ).distinct()
        if stored_fps is not None:
            live_fps = stored_fps.join(all_tombs, "doc_id", "left_anti").select("f")
            fp_new = fp_keep.join(live_fps, "f", "left_anti")
        else:
            fp_new = fp_keep
        kept_fp = fp_new.persist()
        survivors = s2.join(
            kept_fp.select("doc_id"), "doc_id", "left_semi"
        ).unionByName(
            # short docs (< 3 tokens) never fingerprint and pass through
            s2.filter(F.size(toks) < 3)
        ).persist()
        n_kept = survivors.count()
        fp_removed = n_s2 - n_kept

        # ---- writes
        out = batch_df.join(
            survivors.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
        )
        write_epoch(out, accepted_dir, epoch_id)
        write_epoch(s1.select("h"), hash_store, epoch_id)
        write_epoch(s1.select("blk", "doc_id", "len", "text"), text_store, epoch_id)
        write_epoch(kept_fp.select("f", "doc_id"), fp_store, epoch_id)
        write_epoch(tombs, tomb_store, epoch_id)
        metrics = s.createDataFrame(
            [(n_in, ex_removed, pre_removed, n_tombs, fp_removed, n_kept)],
            "n_in bigint, ex_removed bigint, pre_removed bigint, "
            "n_tombstoned bigint, fp_removed bigint, n_kept bigint",
        )
        write_epoch(metrics, metrics_store, epoch_id)
        for frame in (s1, s2, tombs, kept_fp, survivors):
            frame.unpersist()

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def read_waterfall_survivors(
    spark: SparkSession, accepted_dir: str, state_dir: str, id_col: str = "doc_id"
) -> DataFrame:
    """Final survivor set of the waterfall stream: everything accepted,
    minus retractions (docs a later arrival subsumed)."""
    accepted = spark.read.parquet(accepted_dir)
    tombs = read_before(spark, f"{state_dir}/tombstones", sys.maxsize)  # every epoch
    if tombs is None:
        return accepted
    return accepted.join(tombs.select(F.col("doc_id").alias(id_col)), id_col, "left_anti")
