"""Structured Streaming twin of the batch pipeline (SURVEY §2.9, §3.2).

The reference's trigger model — one Lambda invocation per S3
`ObjectCreated` on raw/ (EventBridge rule, `lambda policy…txt:41-56`) —
maps 1:1 onto Spark's **file source**: new-file discovery IS the
trigger. `Trigger.AvailableNow` drains everything that has arrived
(batch-like, used in tests); default micro-batches give the continuous
behavior. Checkpointed offsets + an idempotent sink upgrade the
reference's duplicate-on-reprocess semantics (processor:196-203) to
exactly-once.

The transformation is the SAME code as batch (`process_raw` inside
``foreachBatch``): one definition of validate/enrich, two drivers —
that's the batch/stream parity guarantee, and foreachBatch lets the
invalid rows fan out to the quarantine sink in the same epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import process_raw, with_processing_partitions
from ..schemas import RAW_ORDER_SCHEMA_PERMISSIVE
from .epochs import read_latest, start_file_stream, write_epoch


def read_raw_stream(spark: SparkSession, raw_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the raw/ prefix (SURVEY §2.1 S3)."""
    reader = (
        spark.readStream.schema(RAW_ORDER_SCHEMA_PERMISSIVE)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(raw_dir)


def start_processing_stream(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    quarantine_dir: str | None = None,
    available_now: bool = False,
    output_format: str = "json",
) -> StreamingQuery:
    """raw/ → validate → enrich → processed/ (+ quarantine/), streaming.

    ``observe`` metrics replace the reference's print counters
    (processor:184-194 → StreamingQueryListener-visible).
    """
    stream = read_raw_stream(spark, raw_dir).observe(
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.count(F.col("_corrupt_record")).alias("corrupt_lines"),
    )

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        processed, invalid, corrupt = process_raw(batch_df)
        (
            with_processing_partitions(processed)
            .write.mode("append")
            .partitionBy("year", "month", "day")
            .format(output_format)
            .save(out_dir)
        )
        if quarantine_dir is not None:
            (
                with_processing_partitions(invalid.withColumn("errors", F.to_json("errors")))
                .write.mode("append")
                .partitionBy("year", "month", "day")
                .format(output_format)
                .save(quarantine_dir)
            )
        batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming twin of plans.events.e02: watermarked tumbling-window
    counts per event_type; late rows beyond the watermark are dropped
    (the reference has no late-data story at all — SURVEY §2.9)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def event_lateness(events: DataFrame, order_col: str = "event_id") -> DataFrame:
    """Per-event lateness in seconds behind the running per-(type, day)
    event-time frontier in arrival order (``order_col``) — the e25
    measurement (plans/events.e25_late_event_profile is its rollup
    readout) exposed as a frame so a watermark can be SIZED from it.
    Partitioning by (event_type, day) keeps window partitions day-sized
    at any corpus scale; per-group lateness lower-bounds lateness vs
    the stream's global frontier, so a delay chosen from it is the
    tight end of the safe range."""
    tsec = F.col("ts").cast("double")
    w = (
        W.partitionBy("event_type", F.col("ts").cast("date"))
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return events.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        (F.max(tsec).over(w) - tsec).alias("late_sec"),
    )


def choose_watermark_delay(lateness: DataFrame, quantile: float = 0.99) -> int:
    """The e25 → deployment step: the smallest whole-second watermark
    delay that keeps the dropped fraction at or under ``1 - quantile``
    of the measured lateness distribution — the exact ``late_sec``
    quantile, ceiling'd. One aggregate row reaches the driver. At
    100 TB swap ``percentile`` for ``approx_percentile`` (t-digest
    sketch, fixed state) — the sizing rule is identical."""
    import math

    row = lateness.agg(
        F.expr(f"percentile(late_sec, {quantile})").alias("q")
    ).collect()[0]
    return int(math.ceil(row["q"] or 0.0))


def start_watermarked_counts_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema,
    delay_seconds: int,
    window: str = "10 minutes",
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """The e25 loop CLOSED: run the lateness audit in batch
    (``event_lateness``), size the delay from its tail
    (``choose_watermark_delay``), then deploy this watermarked
    tumbling-window aggregate with that delay. Rows later than the
    sized delay are exactly the profile's tail mass — the late-drop
    parity test in tests/test_streaming.py pins the accounting
    (stream totals == batch totals minus the profiled tail)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    agg = windowed_event_counts(
        stream, window=window, watermark=f"{delay_seconds} seconds"
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sessionized_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-sessionization via native session_window (the
    batch twin computes sessions with lag+cumsum, plans.events.e03)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def enriched_event_stream(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich each event with its user's dimension
    row. The static side is broadcast — a stream-side lookup with no
    stream shuffle and no state store (the static plan is re-resolved
    per micro-batch, so slowly-changing dims pick up updates). This is
    the streaming twin of the reference's catalog lookup (SURVEY §2.3
    J1) and the canonical streaming-enrichment shape at 100 TB: keep
    dims broadcastable or pre-bucket both sides.
    """
    return events.join(F.broadcast(user_dim), "user_id", "left")


def stream_stream_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: purchase attributed to a same-user
    click that happened up to ``within`` before it. Both sides carry
    watermarks and the join condition bounds event-time distance, so
    the state store can expire rows once the watermark passes —
    unbounded-state joins are refused by Spark for good reason at
    100 TB. State size tracks the active window, not the stream length.
    """
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        "click_value",
        "purchase_value",
    )


def start_upsert_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    key_col: str,
    version_col: str,
    schema,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming CDC merge: drain a directory of change files and MERGE
    each micro-batch into a parquet table, keeping the latest version
    per key (``operators.layout.upsert_parquet``).

    This is the incremental-load analog of the reference's per-object
    Lambda append (processor writes one output object per input,
    duplicates on reprocess); here a replayed micro-batch re-merges the
    same keys at the same versions and the table is unchanged — the
    keep-latest merge is idempotent, which with checkpointed offsets
    gives effective exactly-once table state. ``max_files_per_trigger``
    bounds each merge's size so a backlog drains in bounded-memory
    steps rather than one giant union.
    """
    from ..operators.layout import upsert_parquet

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_parquet(batch_df.sparkSession, target_dir, batch_df, key_col, version_col)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _merge
    )


def start_rollup_stream(
    spark: SparkSession,
    source_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    schema,
    key_cols: list[str],
    sum_col: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming MATERIALIZED ROLLUP: maintain per-key (count, sum)
    incrementally as data drains — the warehouse pattern where a
    dashboard reads a small aggregate table instead of re-scanning the
    fact stream.

    Exactly-once without transactions: additive merges are NOT
    idempotent (a replayed batch would double-count), so each batch
    writes only its own PARTIAL aggregate to an additive
    ``streaming/epochs`` store. ``read_rollup`` folds the partials with
    a final groupBy: partial aggregation is associative/commutative, so
    the fold equals the aggregate over all raw data ever drained, and
    stays cheap because each partial is pre-collapsed to the key
    domain. Periodically compact old partials with
    ``operators.layout.compact`` semantics (read + re-aggregate +
    rewrite) to bound the directory count; at 100 TB the partials are
    the same thing as a log-structured aggregate tree's delta layer.
    """

    def _partial(batch_df: DataFrame, epoch_id: int) -> None:
        partial = batch_df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("partial_count"),
            F.sum(sum_col).alias("partial_sum"),
        )
        write_epoch(partial, rollup_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _partial
    )


def read_rollup(spark: SparkSession, rollup_dir: str, key_cols: list[str]) -> DataFrame:
    """Fold the per-batch partials into the current rollup state."""
    return (
        spark.read.parquet(rollup_dir)
        .groupBy(*key_cols)
        .agg(
            F.sum("partial_count").alias("n"),
            F.sum("partial_sum").alias("total"),
        )
    )


def start_active_users_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    ts_col: str = "ts",
    user_col: str = "user_id",
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the e14 rolling DAU/WAU query: maintain the
    exact distinct (day, user) set incrementally as events drain — the
    information-theoretic minimum state for an EXACT rolling distinct
    (a COUNT can't be merged; the set can).

    Exactly-once like start_rollup_stream: each micro-batch writes only
    its OWN distinct (d, user_id) pairs to an additive
    ``streaming/epochs`` store; cross-batch duplicates collapse in the
    read-side distinct (set union is idempotent, unlike addition — which
    is why this needs no version column). ``read_rolling_active_users``
    then folds the SAME ``rolling_active_users`` core the batch query
    uses. At 100 TB the state directory is partitioned by day and old
    days compact to one file; a day outside every live window can be
    dropped entirely (retention = window length).
    """

    def _distinct_pairs(batch_df: DataFrame, epoch_id: int) -> None:
        pairs = batch_df.select(
            F.col(ts_col).cast("timestamp").cast("date").alias("d"),
            F.col(user_col).alias("user_id"),
        ).distinct()
        write_epoch(pairs, state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _distinct_pairs
    )


def read_rolling_active_users(
    spark: SparkSession, state_dir: str, window_days: int = 7
) -> DataFrame:
    """Fold the streamed (day, user) state into the e14-shaped rolling
    DAU/WAU frame — identical output to the batch query on the same
    events (parity-tested)."""
    from ..functions.activity import rolling_active_users

    day_user = spark.read.parquet(state_dir).select("d", "user_id").distinct()
    return rolling_active_users(day_user, window_days)


def start_trending_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    halflife_us: int = 7 * 86_400_000_000,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the e15 decayed-trending query: per event
    type, maintain sum(value * 0.5^(age/halflife)) as events arrive,
    WITHOUT ever rescanning history.

    The decayed sum is foldable because decay is exponential: a stored
    partial anchored at time A becomes a partial anchored at B>A by one
    multiplication with 0.5^((B-A)/halflife). Each batch (1) computes
    its own partial anchored at its max event time, (2) rescales the
    stored partial from its old anchor to the new one, (3) adds, and
    (4) writes (event_type, partial, anchor_us, n_events) as a chained
    ``streaming/epochs`` snapshot, so a restarted batch recomputes
    byte-identical state. The anchor always advances to the newest
    event seen, keeping partials in (0, sum(values)] — no overflow for
    any stream length.

    ``read_trending`` folds the per-batch dirs to the latest state and
    returns the same (event_type, n_events, trend_score, trend_rank)
    shape as e15; batch/stream parity is pinned in
    tests/test_streaming.py."""

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        anchor_new = batch_df.select(F.max(ts_us).alias("a")).collect()[0]["a"]
        part = (
            batch_df.select(
                "event_type",
                F.col("value"),
                (
                    F.col("value")
                    * F.pow(
                        F.lit(0.5),
                        (F.lit(anchor_new) - ts_us) / F.lit(float(halflife_us)),
                    )
                ).alias("dv"),
            )
            .groupBy("event_type")
            .agg(F.sum("dv").alias("partial"), F.count(F.lit(1)).alias("n_events"))
        )
        prev = read_trending_state(s, state_dir, before_batch=epoch_id)
        if prev is not None:
            anchor = max(
                anchor_new,
                prev.agg(F.max("anchor_us")).collect()[0][0] or anchor_new,
            )
            rescaled = prev.select(
                "event_type",
                (
                    F.col("partial")
                    * F.pow(
                        F.lit(0.5),
                        (F.lit(anchor) - F.col("anchor_us")) / F.lit(float(halflife_us)),
                    )
                ).alias("partial"),
                F.col("n_events"),
            )
            part2 = part.select(
                "event_type",
                (
                    F.col("partial")
                    * F.pow(
                        F.lit(0.5),
                        (F.lit(anchor) - F.lit(anchor_new)) / F.lit(float(halflife_us)),
                    )
                ).alias("partial"),
                "n_events",
            )
            merged = (
                rescaled.unionByName(part2)
                .groupBy("event_type")
                .agg(F.sum("partial").alias("partial"), F.sum("n_events").alias("n_events"))
            )
        else:
            anchor = anchor_new
            merged = part
        write_epoch(merged.withColumn("anchor_us", F.lit(anchor)), state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def read_trending_state(
    spark: SparkSession, state_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    """Latest per-type (event_type, partial, anchor_us, n_events)
    snapshot, or None when no eligible batch exists. ``before_batch``
    makes this the stream's per-epoch read (``epochs.read_latest``),
    which also retires the snapshots older than the one returned."""
    return read_latest(spark, state_dir, before=before_batch)


def read_trending(spark: SparkSession, state_dir: str) -> DataFrame:
    """e15-shaped view of the stream state: (event_type, n_events,
    trend_score, trend_rank) scored at the state's own anchor."""
    from pyspark.sql import Window as W

    st = read_trending_state(spark, state_dir)
    # single-partition window is intentional: state is one row per
    # event_type (a handful), never raw events
    w = W.orderBy(F.col("partial").desc(), "event_type")
    return st.select(
        "event_type",
        "n_events",
        F.col("partial").alias("trend_score"),
        F.row_number().over(w).cast("bigint").alias("trend_rank"),
    )


def start_transition_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the e18 Markov transition matrix, with CROSS-
    BATCH sequence continuity: the first event a user produces in batch
    N+1 must pair with their LAST event from batch N, so the state is
    (a) the accumulated transition counts and (b) one (last_ts,
    last_event_id, last_type) row per user. Each batch unions the
    per-user carry-over rows (as lag seeds only) with its own events,
    computes LAG within (user ORDER BY ts, event_id), counts
    transitions whose CURRENT row belongs to the batch, folds them into
    the stored counts, and advances the per-user last-event state.

    Assumes per-user event-time-ordered delivery across batches (file
    streams replaying a log satisfy this); genuinely out-of-order feeds
    belong to the batch query over the settled table. Both state
    frames are chained snapshots in the ``streaming/epochs`` layout.
    ``read_transitions`` returns the e18 shape;
    batch/stream parity is pinned in tests/test_streaming.py."""
    counts_dir = f"{state_dir}/counts"
    last_dir = f"{state_dir}/last"

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        ev = batch_df.select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            "event_type",
            F.lit(False).alias("_seed"),
        )
        prev_last = read_latest(s, last_dir, before=epoch_id)
        if prev_last is not None:
            seeds = prev_last.select(
                "user_id",
                F.col("last_ts").alias("ts"),
                F.col("last_event_id").alias("event_id"),
                F.col("last_type").alias("event_type"),
                F.lit(True).alias("_seed"),
            )
            ev = ev.unionByName(seeds)
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        batch_trans = (
            ev.select(
                "_seed",
                "event_type",
                F.lag("event_type").over(w).alias("prev_type"),
            )
            .filter((~F.col("_seed")) & F.col("prev_type").isNotNull())
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        prev_counts = read_latest(s, counts_dir, before=epoch_id)
        merged = (
            batch_trans.unionByName(prev_counts)
            if prev_counts is not None
            else batch_trans
        )
        merged = merged.groupBy("prev_type", "next_type").agg(F.sum("n").alias("n"))
        write_epoch(merged, counts_dir, epoch_id)

        new_last = (
            ev.withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy("user_id").orderBy(
                        F.col("ts").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .select(
                "user_id",
                F.col("ts").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_type"),
            )
        )
        write_epoch(new_last, last_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def read_transitions(spark: SparkSession, state_dir: str) -> DataFrame:
    """e18-shaped view of the stream state: (prev_type, next_type, n, p)."""
    trans = read_latest(spark, f"{state_dir}/counts")
    row_tot = trans.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(row_tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (
            F.floor(F.col("n").cast("double") / F.col("tot") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
        ).alias("p"),
    )


def start_attribution_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of e21 last-touch attribution, with CROSS-BATCH
    channel continuity: a purchase at the top of batch N+1 must credit
    the user's last non-purchase event from batch N, so the state is
    (a) accumulated per-channel totals and (b) one (last_ts,
    last_event_id, last_type) NON-PURCHASE row per user. Each batch
    unions the carry-over rows (as window seeds only), computes the
    last-ignore-nulls channel within (user ORDER BY ts, event_id) over
    the unbounded..-1 frame, credits the batch's purchases, folds the
    per-channel (count, DECIMAL value-sum) partials into the stored
    totals — decimal partials re-fold exactly, so split delivery is
    bit-identical to the batch query — and advances the per-user
    last-non-purchase state (purchases never become seeds, so 'direct'
    attribution survives batch splits).

    Same assumptions and chained ``streaming/epochs`` snapshots as
    start_transition_stream. ``read_attribution`` returns the e21 shape;
    batch/stream parity is pinned in tests/test_streaming.py."""
    totals_dir = f"{state_dir}/totals"
    last_dir = f"{state_dir}/last"

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        ev = batch_df.select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            "event_type",
            F.col("value").cast("decimal(12,2)").alias("value"),
            F.lit(False).alias("_seed"),
        )
        prev_last = read_latest(s, last_dir, before=epoch_id)
        if prev_last is not None:
            seeds = prev_last.select(
                "user_id",
                F.col("last_ts").alias("ts"),
                F.col("last_event_id").alias("event_id"),
                F.col("last_type").alias("event_type"),
                F.lit(None).cast("decimal(12,2)").alias("value"),
                F.lit(True).alias("_seed"),
            )
            ev = ev.unionByName(seeds)
        w = (
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        prior = F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w)
        credited = (
            ev.withColumn("channel", F.coalesce(prior, F.lit("direct")))
            .filter((~F.col("_seed")) & (F.col("event_type") == "purchase"))
            .groupBy("channel")
            .agg(
                F.count(F.lit(1)).alias("n_purchases"),
                F.sum("value").cast("decimal(12,2)").alias("val_sum"),
            )
        )
        prev_tot = read_latest(s, totals_dir, before=epoch_id)
        merged = credited.unionByName(prev_tot) if prev_tot is not None else credited
        merged = merged.groupBy("channel").agg(
            F.sum("n_purchases").alias("n_purchases"),
            F.sum("val_sum").cast("decimal(12,2)").alias("val_sum"),
        )
        write_epoch(merged, totals_dir, epoch_id)

        new_last = (
            ev.filter(F.col("event_type") != "purchase")
            .withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy("user_id").orderBy(
                        F.col("ts").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .select(
                "user_id",
                F.col("ts").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_type"),
            )
        )
        write_epoch(new_last, last_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def read_attribution(spark: SparkSession, state_dir: str) -> DataFrame:
    """e21-shaped view of the stream state: (channel, n_purchases,
    attributed_value, avg_value)."""
    from ..plans.money import fround

    return read_latest(spark, f"{state_dir}/totals").select(
        "channel",
        "n_purchases",
        F.round(F.col("val_sum"), 2).cast("double").alias("attributed_value"),
        fround(
            F.col("val_sum").cast("double") / F.col("n_purchases"), 4
        ).alias("avg_value"),
    )


def start_daily_totals_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Incremental (event_type, day) DECIMAL revenue store feeding two
    query-time finalizers: ``read_seasonality`` (the e22 shape) and
    ``read_cusum`` (the e23 shape). The pattern: persist only the
    ADDITIVE sufficient statistic — decimal day totals re-fold exactly
    under any batch split — and run the non-additive finalization (dow
    means, ratio-to-type, running CUSUM) at read time over the
    days×types-sized state, never over raw events. That is why one
    store serves two analytics: the stream cost is one tiny keyed
    aggregate per batch, and adding a third finalizer costs nothing at
    ingest. The totals are a chained ``streaming/epochs`` snapshot.
    Batch/stream parity for BOTH finalizers is pinned in
    tests/test_streaming.py."""
    daily_dir = f"{state_dir}/daily"

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..plans.events import daily_totals

        s = batch_df.sparkSession
        part = daily_totals(
            batch_df.withColumn("ts", F.col("ts").cast("timestamp"))
        )
        prev = read_latest(s, daily_dir, before=epoch_id)
        merged = part.unionByName(prev) if prev is not None else part
        merged = merged.groupBy("event_type", "day").agg(
            F.sum("day_total").cast("decimal(12,2)").alias("day_total")
        )
        write_epoch(merged, daily_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def read_seasonality(spark: SparkSession, state_dir: str) -> DataFrame:
    """e22-shaped view of the daily-totals stream state."""
    from ..plans.events import seasonality_from_daily

    return seasonality_from_daily(read_latest(spark, f"{state_dir}/daily"))


def read_cusum(spark: SparkSession, state_dir: str) -> DataFrame:
    """e23-shaped view of the daily-totals stream state."""
    from ..plans.events import cusum_from_daily

    return cusum_from_daily(read_latest(spark, f"{state_dir}/daily"))


def start_histogram_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    value_col: str,
    mn: float,
    width: float,
    nbins: int = 256,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the x08 histogram-quantile sketch: each
    micro-batch bins its rows against FIXED edges (``mn + i*width``,
    chosen up front — e.g. from a historical scan; a value outside the
    range clamps to an edge bin) and writes its partial ``(bin, cnt)``
    grid to an additive ``streaming/epochs`` store. The histogram is a mergeable
    sketch, so read-side SUM over all partials equals the batch
    histogram of the union — no raw rows are retained, state is
    O(nbins) per drained micro-batch regardless of stream volume.
    """
    from ..operators.sketch import histogram_bins

    def _partial(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(histogram_bins(batch_df, value_col, mn, width, nbins), state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _partial
    )


def start_kmv_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    k: int = 16,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the x09 KMV distinct sketch over document
    tokens: each micro-batch computes its per-source K-smallest distinct
    token-hash set (``operators/sketch.kmv_sketch``) and writes that
    partial to an additive ``streaming/epochs`` store. KMV is a
    MERGEABLE sketch: the K smallest of a union equals the K smallest of
    the union of per-shard K-smallest sets, so the read side folds
    partials without raw rows; state is O(K) rows per (source, drained
    batch)."""
    from ..functions.text import tokens
    from ..operators.sketch import kmv_hash, kmv_sketch

    def _partial(batch_df: DataFrame, epoch_id: int) -> None:
        hv = (
            batch_df.select(
                "source", F.explode(tokens(F.col("text"))).alias("tok")
            )
            .select("source", kmv_hash(F.col("tok")).alias("hv"))
            .distinct()
        )
        write_epoch(kmv_sketch(hv, ["source"], k), state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _partial
    )


def start_ams_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the x10 AMS F2 sketch over document tokens:
    each micro-batch reduces its token stream to per-token counts, folds
    them through the SAME ``plans/graph_sketch.ams_zvector`` core the
    batch query uses, and writes the 9-row ``(i, zi)`` partial to an
    additive ``streaming/epochs`` store. Z_i is ADDITIVE: the union
    stream's Z equals the element-wise sum of per-batch Z, all exact
    int64, so stream-vs-batch parity is exact equality, not a tolerance
    check. State is 9 integers per drained micro-batch regardless of
    stream volume."""
    from ..functions.text import tokens
    from ..plans.graph_sketch import ams_zvector

    def _partial(batch_df: DataFrame, epoch_id: int) -> None:
        per_tok = (
            batch_df.select(F.explode(tokens(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        write_epoch(ams_zvector(per_tok), state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _partial
    )


def read_ams_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the streamed per-batch AMS partials by element-wise
    addition (the sketch's merge) back into the 9-row ``(i, zi)``
    state — exact int64, comparable by equality to the batch
    ``ams_zvector`` over the union of all drained rows."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("i")
        .agg(F.sum("zi").cast("bigint").alias("zi"))
    )


def read_ams_f2(spark: SparkSession, state_dir: str) -> DataFrame:
    """Median-of-means F2 estimate from the folded stream state,
    through the SAME ``plans/graph_sketch.ams_f2_estimate`` core the
    batch x10 query uses, so batch/stream parity holds by
    construction."""
    from ..plans.graph_sketch import ams_f2_estimate

    return ams_f2_estimate(read_ams_state(spark, state_dir))


def read_kmv_estimates(spark: SparkSession, state_dir: str, k: int = 16) -> DataFrame:
    """Fold the streamed per-batch KMV partials (union → re-truncate to
    the K smallest — the sketch's merge) and estimate per-source
    distinct-token counts plus a '__all__' merged row, through the SAME
    ``operators/sketch.kmv_sketch/kmv_estimate`` core the x09 batch
    query family uses, so batch/stream parity holds by construction."""
    from ..operators.sketch import kmv_estimate, kmv_sketch

    parts = spark.read.parquet(state_dir).select("source", "hv")
    per_source = kmv_sketch(parts, ["source"], k)
    merged = kmv_sketch(
        per_source.select(F.lit("__all__").alias("source"), "hv"), ["source"], k
    )
    return kmv_estimate(per_source.unionByName(merged), ["source"], k)


def read_histogram_quantiles(
    spark: SparkSession,
    state_dir: str,
    mn: float,
    width: float,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """Fold the streamed per-batch histogram partials (bins add up —
    the sketch's merge property) and pick quantiles through the SAME
    ``operators/sketch.quantiles_from_histogram`` core the batch x08
    query uses, so batch/stream parity holds by construction
    (parity-tested in tests/test_streaming.py)."""
    from ..operators.sketch import quantiles_from_histogram

    hist = (
        spark.read.parquet(state_dir)
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = hist.agg(F.sum("cnt").alias("n")).select(
        F.lit(float(mn)).alias("mn"), F.lit(float(width)).alias("width"), "n"
    )
    return quantiles_from_histogram(hist, w, qs)


def start_count_sketch_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the x12 Count-Sketch over document tokens: each
    micro-batch reduces its token stream to per-token counts, folds them
    through the SAME ``plans/graph_sketch.cs_grid`` core the batch query
    uses, and writes the (d, bucket, s) grid partial to an additive
    ``streaming/epochs`` store. The grid is ADDITIVE: the union stream's
    grid equals the element-wise (d, bucket) sum of per-batch grids, all
    exact int64, so stream-vs-batch parity is exact equality. State is
    at most depth*width integers per drained micro-batch regardless of
    stream volume."""
    from ..functions.text import tokens
    from ..plans.graph_sketch import cs_grid

    def _partial(batch_df: DataFrame, epoch_id: int) -> None:
        per_tok = (
            batch_df.select(F.explode(tokens(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        write_epoch(cs_grid(per_tok), state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _partial
    )


def read_count_sketch_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the streamed per-batch Count-Sketch partials by (d, bucket)
    addition (the sketch's merge) back into one grid — exact int64,
    comparable by equality to the batch ``cs_grid`` over the union of
    all drained rows."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("d", "bucket")
        .agg(F.sum("s").cast("bigint").alias("s"))
    )


def read_count_sketch_estimates(
    spark: SparkSession, state_dir: str, targets: DataFrame
) -> DataFrame:
    """Probe the folded stream grid for the target tokens through the
    SAME ``plans/graph_sketch.cs_estimates`` core the batch x12 query
    uses, so batch/stream parity holds by construction."""
    from ..plans.graph_sketch import cs_estimates

    return cs_estimates(read_count_sketch_state(spark, state_dir), targets)


def start_linear_counting_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the x13 linear-counting bitmap over document
    tokens: each micro-batch reduces its tokens to the DISTINCT (source,
    bucket) hit set on the same portable hash the batch query uses,
    written to an additive ``streaming/epochs`` store. The bitmap's
    merge is set UNION — folding the per-batch hit sets with DISTINCT
    reproduces the batch bitmap exactly, so stream-vs-batch parity is
    exact set equality. State is at most sources*m rows per drained
    micro-batch however large the stream."""
    from ..functions.text import tokens
    from ..operators.sketch import portable_hash
    from ..plans.graph_sketch import _X13_M

    def _partial(batch_df: DataFrame, epoch_id: int) -> None:
        hit = (
            batch_df.select(
                "source", F.explode(tokens(F.col("text"))).alias("token")
            )
            .select(
                "source",
                (portable_hash(F.col("token"), 31) % _X13_M).alias("b"),
            )
            .distinct()
        )
        write_epoch(hit, state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _partial
    )


def read_linear_counting_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the streamed per-batch bitmap partials by set union (the
    sketch's merge) back into the DISTINCT (source, bucket) hit set —
    comparable by equality to the batch bitmap over the union of all
    drained rows."""
    return spark.read.parquet(state_dir).select("source", "b").distinct()


def read_linear_counting_estimates(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Per-source linear-counting estimate m*ln(m/empty) from the folded
    stream bitmap — the same occupancy inversion the batch x13 query
    reports, so batch/stream parity holds by construction."""
    from ..plans.graph_sketch import _X13_M

    occ = read_linear_counting_state(spark, state_dir).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("occupied")
    )
    m = float(_X13_M)
    return occ.select(
        "source",
        "occupied",
        (m * F.log(F.lit(m) / (_X13_M - F.col("occupied")))).alias("lc_est"),
    )


# ---------------------------------------------------------------------------
# DGIM sliding-window counting store (Datar–Gionis–Indyk–Motwani 2002):
# "how many qualifying events in each key's last W arrivals?" with
# O(log^2 W) state per key instead of a W-deep buffer — the sketch for
# count-based sliding windows, which no mergeable sketch (KMV/AMS/CMS)
# can express because expiry depends on arrival ORDER.
# ---------------------------------------------------------------------------

DGIM_MAX_PER_SIZE = 2  # canonical DGIM: at most 2 buckets per size


def _dgim_fold(
    buckets: list[list[int]], items: list[tuple[int, int]], window: int
) -> list[list[int]]:
    """Pure sequential DGIM fold: ``buckets`` is [(size, newest_pos)]
    oldest->newest; ``items`` is [(pos, bit)] in arrival order. Expiry
    runs PER ARRIVAL (the canonical formulation), so the final state
    is a pure function of the ordered stream — batch boundaries cannot
    change it, which is exactly what the stream-split parity test
    pins."""
    for pos, bit in items:
        # expire per arrival: oldest buckets whose newest bit left the window
        while buckets and buckets[0][1] <= pos - window:
            buckets.pop(0)
        if not bit:
            continue
        buckets.append([1, pos])
        size = 1
        while True:
            idxs = [i for i, b in enumerate(buckets) if b[0] == size]
            if len(idxs) <= DGIM_MAX_PER_SIZE:
                break
            i0, i1 = idxs[0], idxs[1]  # the two OLDEST of this size
            merged = [size * 2, buckets[i1][1]]
            buckets = [b for j, b in enumerate(buckets) if j not in (i0, i1)]
            buckets.append(merged)
            buckets.sort(key=lambda b: b[1])
            size *= 2
    return buckets


def dgim_estimate(buckets: list[list[int]], latest_pos: int, window: int) -> int:
    """DGIM count estimate: every non-expired bucket contributes its
    full size except the oldest, which contributes half (its bits
    straddle the window edge) — error <= half the oldest bucket, i.e.
    <= 25% with 2 buckets per size."""
    live = [b for b in buckets if b[1] > latest_pos - window]
    if not live:
        return 0
    total = sum(b[0] for b in live)
    return total - live[0][0] // 2 if len(live) > 1 else total


def start_dgim_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    key_col: str = "event_type",
    value_col: str = "value",
    threshold: float = 100.0,
    window: int = 128,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming per-key DGIM store: for every key, maintain the
    O(log^2 W) bucket state answering "how many events with
    ``value >= threshold`` among the key's last ``window`` arrivals?".

    Unlike the KMV/AMS/Count-Sketch/linear-counting stores (mergeable
    partials folded at read time), DGIM state EVOLVES sequentially —
    expiry depends on arrival order — so each batch writes the FULL
    per-key snapshot as a chained ``streaming/epochs`` store (tiny:
    <= 2*(log2 W)+2 buckets per key).
    Arrivals are ordered by (ts, event_id) and numbered from the
    key's persisted ``n_seen``, so the fold is a pure function of the
    stream prefix: delivering the same events in 1 batch or 5 yields
    bit-identical buckets (pinned by the parity test). The per-key
    fold runs DISTRIBUTED via applyInPandas — state rows and batch
    events group by key; the driver never sees an event."""
    import pandas as pd

    state_schema = (
        f"{key_col} string, size bigint, newest_pos bigint, n_seen bigint"
    )

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        events = batch_df.select(
            F.col(key_col).alias("k"),
            F.col("ts"),
            F.col("event_id"),
            (F.col(value_col) >= threshold).cast("int").alias("bit"),
        ).withColumn(
            "seq",
            F.row_number().over(W.partitionBy("k").orderBy("ts", "event_id")),
        ).select("k", "seq", "bit", F.lit("event").alias("kind"),
                 F.lit(0).cast("bigint").alias("size"),
                 F.lit(0).cast("bigint").alias("newest_pos"),
                 F.lit(0).cast("bigint").alias("n_seen"))
        prior = read_latest(s, state_dir, before=epoch_id)
        if prior is not None:
            prior_rows = prior.select(
                F.col(key_col).alias("k"),
                F.lit(0).cast("int").alias("seq"),
                F.lit(0).cast("int").alias("bit"),
                F.lit("bucket").alias("kind"),
                "size",
                "newest_pos",
                "n_seen",
            )
            merged = events.unionByName(prior_rows)
        else:
            merged = events

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            key = pdf["k"].iloc[0]
            b = pdf[pdf["kind"] == "bucket"].sort_values("newest_pos")
            buckets = [[int(r.size), int(r.newest_pos)] for r in b.itertuples()]
            n_seen = int(b["n_seen"].iloc[0]) if len(b) else 0
            ev = pdf[pdf["kind"] == "event"].sort_values("seq")
            items = [
                (n_seen + int(r.seq), int(r.bit)) for r in ev.itertuples()
            ]
            n_new = n_seen + len(items)
            buckets = _dgim_fold(buckets, items, window)
            if not buckets:
                # keep the key alive in state so n_seen persists
                return pd.DataFrame(
                    {key_col: [key], "size": [0], "newest_pos": [0],
                     "n_seen": [n_new]}
                )
            return pd.DataFrame(
                {
                    key_col: [key] * len(buckets),
                    "size": [x[0] for x in buckets],
                    "newest_pos": [x[1] for x in buckets],
                    "n_seen": [n_new] * len(buckets),
                }
            )

        write_epoch(merged.groupBy("k").applyInPandas(fold, state_schema), state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def read_dgim_estimates(
    spark: SparkSession, state_dir: str, window: int = 128,
    key_col: str = "event_type",
) -> DataFrame:
    """Per-key DGIM window-count estimates from the latest snapshot:
    (key, n_seen, n_buckets, estimate)."""
    # O(keys * log^2 W) rows — state, never data
    rows = read_latest(spark, state_dir).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r[key_col], {"buckets": [], "n_seen": r["n_seen"]})
        if r["size"] > 0:
            by_key[r[key_col]]["buckets"].append([r["size"], r["newest_pos"]])
    out = []
    for k, v in by_key.items():
        bs = sorted(v["buckets"], key=lambda b: b[1])
        out.append((k, v["n_seen"], len(bs), dgim_estimate(bs, v["n_seen"], window)))
    return spark.createDataFrame(
        out, f"{key_col} string, n_seen bigint, n_buckets int, estimate bigint"
    )


# ---------------------------------------------------------------------------
# Misra–Gries heavy-hitter store (Misra & Gries 1982; the SpaceSaving /
# frequent-items family): 6th streaming sketch store (round 8)
# ---------------------------------------------------------------------------


def _mg_fold(
    counters: list[list], items: list[str], k: int
) -> list[list]:
    """Pure sequential Misra–Gries fold: ``counters`` is [[item, cnt]]
    and ``items`` the arrivals in stream order. The classic update —
    increment a tracked item, adopt into a free slot, else decrement
    ALL counters by 1 (dropping zeros) — is deterministic in arrival
    order, so the final summary is a pure function of the ordered
    stream prefix: batch boundaries cannot change it (parity-tested).
    Guarantee: true_count - floor(n/(k+1)) <= cnt <= true_count, and
    every item with true_count > floor(n/(k+1)) survives."""
    counts = {item: cnt for item, cnt in counters}
    for x in items:
        if x in counts:
            counts[x] += 1
        elif len(counts) < k:
            counts[x] = 1
        else:
            drop = []
            for it in counts:
                counts[it] -= 1
                if counts[it] == 0:
                    drop.append(it)
            for it in drop:
                del counts[it]
    # null-safe sort: a None/NaN item (possible if a caller feeds raw
    # pandas values) must not TypeError against str keys
    return sorted(
        ([it, c] for it, c in counts.items()),
        key=lambda p: (p[0] is None or p[0] != p[0], str(p[0])),
    )


def start_misra_gries_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    key_col: str = "event_type",
    item_col: str = "user_id",
    k: int = 8,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming per-key Misra–Gries heavy-hitter store: for every key
    (e.g. event_type), maintain the k-counter frequent-items summary of
    the ``item_col`` stream — "which users dominate this event type" in
    O(k) state per key however long the stream runs.

    Like the DGIM store (and unlike the mergeable KMV/AMS/Count-Sketch/
    linear-counting folds), the MG summary EVOLVES sequentially — a
    decrement depends on what arrived before — so each batch persists
    the full per-key snapshot as a chained ``streaming/epochs`` store
    (<= k rows per key) and folds arrivals ordered by (ts, event_id)
    from the persisted ``n_seen``: the state is a pure function of the
    stream prefix, and split-vs-one-batch delivery is bit-identical
    (parity-tested). The fold runs DISTRIBUTED via applyInPandas — the
    driver never sees an event, only the O(keys x k) snapshot at read
    time."""
    import pandas as pd

    # k is persisted WITH the state: the error bound floor(n/(k+1)) is a
    # property of the store as written, so readers must derive it from
    # the snapshot rather than trust a caller-supplied k that can drift
    state_schema = (
        f"{key_col} string, item string, cnt bigint, n_seen bigint, k int"
    )

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        events = (
            batch_df.select(
                F.col(key_col).alias("kk"),
                F.col("ts"),
                F.col("event_id"),
                # a null item must not reach the pandas fold (None/NaN
                # breaks dict keys and ordering there); count nulls
                # under an explicit sentinel instead of dropping them —
                # "null user dominates this event type" is a real signal
                F.coalesce(
                    F.col(item_col).cast("string"), F.lit("\u0000null")
                ).alias("item"),
            )
            .withColumn(
                "seq",
                F.row_number().over(W.partitionBy("kk").orderBy("ts", "event_id")),
            )
            .select(
                "kk",
                "seq",
                "item",
                F.lit("event").alias("kind"),
                F.lit(0).cast("bigint").alias("cnt"),
                F.lit(0).cast("bigint").alias("n_seen"),
            )
        )
        prior = read_latest(s, state_dir, before=epoch_id)
        if prior is not None:
            prior_rows = prior.select(
                F.col(key_col).alias("kk"),
                F.lit(0).cast("int").alias("seq"),
                "item",
                F.lit("counter").alias("kind"),
                "cnt",
                "n_seen",
            )
            merged = events.unionByName(prior_rows)
        else:
            merged = events

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            key = pdf["kk"].iloc[0]
            pr = pdf[pdf["kind"] == "counter"]
            counters = [
                [r.item, int(r.cnt)] for r in pr.itertuples() if int(r.cnt) > 0
            ]
            n_seen = int(pr["n_seen"].iloc[0]) if len(pr) else 0
            ev = pdf[pdf["kind"] == "event"].sort_values("seq")
            items = [r.item for r in ev.itertuples()]
            n_new = n_seen + len(items)
            counters = _mg_fold(counters, items, k)
            if not counters:
                # keep the key alive so n_seen persists across batches
                return pd.DataFrame(
                    {
                        key_col: [key],
                        "item": [""],
                        "cnt": [0],
                        "n_seen": [n_new],
                        "k": [k],
                    }
                )
            return pd.DataFrame(
                {
                    key_col: [key] * len(counters),
                    "item": [c[0] for c in counters],
                    "cnt": [c[1] for c in counters],
                    "n_seen": [n_new] * len(counters),
                    "k": [k] * len(counters),
                }
            )

        write_epoch(merged.groupBy("kk").applyInPandas(fold, state_schema), state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _batch
    )


def read_misra_gries_summary(
    spark: SparkSession, state_dir: str, key_col: str = "event_type"
) -> DataFrame:
    """Latest per-key MG summary: (key, item, mg_count, n_seen,
    err_bound) where true_count ∈ [mg_count, mg_count + err_bound] and
    err_bound = floor(n_seen / (k + 1)), with k read from the k the
    writer stamps on every state row."""
    return read_latest(spark, state_dir).filter(F.col("cnt") > 0).select(
        key_col,
        "item",
        F.col("cnt").alias("mg_count"),
        "n_seen",
        F.expr("n_seen div (k + 1)").alias("err_bound"),
    )


def start_sample_quantile_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    group_col: str,
    key_col: str,
    value_col: str,
    k: int = 64,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the x15 sampling idea as a FIXED-SIZE store:
    each micro-batch reduces its rows to the per-group bottom-k rows by
    scrambled row-key hash (``operators/sketch.bottomk_sample``) and
    writes that partial to an additive ``streaming/epochs`` store. The
    bottom-k row sample is MERGEABLE exactly like KMV: bottom-k of a
    union == bottom-k of the union of per-shard bottom-k sets, so the
    read side folds k-row partials, never raw rows, and state is O(k)
    rows per (group, drained batch) regardless of stream volume. k rides
    IN the state rows (round-8 Misra-Gries ADVICE: never a reader
    parameter that can drift from the writer's)."""
    from ..operators.sketch import bottomk_sample

    def _partial(batch_df: DataFrame, epoch_id: int) -> None:
        sample = bottomk_sample(batch_df, group_col, key_col, value_col, k)
        write_epoch(sample, state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _partial
    )


def read_sample_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the streamed per-batch bottom-k partials back into ONE
    bottom-k sample per group (union -> re-truncate to the k smallest
    scrambled hashes — the sketch's merge, with k read from the state
    itself). Exactly comparable to ``bottomk_sample`` over the union
    of all drained rows."""
    from pyspark.sql import Window as W

    st = spark.read.parquet(state_dir)
    w = W.partitionBy("grp").orderBy("hv", "key")
    return (
        st.dropDuplicates(["grp", "key"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("k"))
        .select("grp", "hv", "key", "val", "k")
    )


def read_sample_quantiles(spark: SparkSession, state_dir: str) -> DataFrame:
    """Quantile estimates from the folded stream sample, through the
    SAME ``operators/sketch.bottomk_quantiles`` core a batch caller
    uses, so batch/stream parity holds by construction."""
    from ..operators.sketch import bottomk_quantiles

    return bottomk_quantiles(read_sample_state(spark, state_dir))


def start_priority_sample_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int = 64,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of the x16 priority sample as store #6: each
    micro-batch reduces its rows to the per-group top-(k+1) priorities
    (``operators/sketch.priority_sample`` — the SAME core x16 runs)
    and writes that partial to an additive ``streaming/epochs`` store.
    The k+1-row summary is MERGEABLE exactly like bottom-k: the top-(k+1)
    of a union equals the top-(k+1) of the union of per-shard
    top-(k+1) sets, and row k+1 of the MERGED sample is the global
    tau the estimator needs — so the read side reproduces the one-pass
    batch estimate exactly, never approximately. State is O(k) rows
    per (group, drained batch); k rides IN the state rows."""
    from ..operators.sketch import priority_sample

    def _partial(batch_df: DataFrame, epoch_id: int) -> None:
        sample = priority_sample(batch_df, group_col, key_col, weight_col, k)
        write_epoch(sample, state_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _partial
    )


def read_priority_estimates(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the streamed per-batch priority-sample partials (union →
    re-rank → tau-threshold estimate) through the SAME
    ``operators/sketch.priority_estimate`` core x16 uses — batch/stream
    parity by construction. No key-dedup on read: each source row lands
    in exactly one drained batch (a replayed epoch OVERWRITES its own
    partial), and the item key need not be unique — the testdata's
    (orderkey, linenumber) pairs genuinely collide, and two distinct
    rows sharing a key are two distinct sample items, exactly as the
    one-pass batch sample treats them."""
    from ..operators.sketch import priority_estimate

    return priority_estimate(spark.read.parquet(state_dir))


def stream_stream_left_outer_join(
    purchases: DataFrame,
    clicks: DataFrame,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER join — the attribution completeness
    companion to ``stream_stream_interval_join``: every purchase emits
    EXACTLY once, joined to a same-user click up to ``within`` before
    it when one exists, and null-extended once the watermark PROVES no
    such click can still arrive (Spark holds the purchase in state
    until min(both sides' watermarks) passes the join window, then
    emits the null row — the mechanism that makes outer results
    correct rather than racy). Both sides carry watermarks and the
    condition bounds event-time distance in both directions, so state
    expires with the window; unmatched-rate monitoring (how many
    conversions have NO attributable impression) falls straight out of
    the null rows."""
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "leftOuter",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "purchase_value",
        "click_ts",
        "click_value",
    )


def stream_stream_full_outer_join(
    purchases: DataFrame,
    clicks: DataFrame,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the
    stream-side outer-join menu (inner: ``stream_stream_interval_join``,
    left: ``stream_stream_left_outer_join``): every purchase AND every
    click emits exactly once — joined when an attributable pair exists,
    null-extended on its own side once min(both watermarks) passes the
    join window and PROVES the partner can no longer arrive. The two
    null populations are different business readouts: null-click rows
    are unattributable conversions (the left join's signal), null-
    purchase rows are impressions that never converted within the
    window — the numerator of a true streaming conversion-rate without
    a separate counting pass. Same bounded-state shape as the other
    two: both sides watermarked, event-time distance bounded in both
    directions, state expires with the window."""
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "fullOuter",
    ).select(
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        "purchase_ts",
        "purchase_value",
        "click_ts",
        "click_value",
    )


# ---------------------------------------------------------------------------
# streaming store #7 (round 10): per-side count-min sketch pair — the
# x17/x18 join-size estimator fed from a STREAM, so the broadcast-vs-
# shuffle pick exists before any table statistics do
# ---------------------------------------------------------------------------


def start_cms_pair_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    depth: int = 3,
    width: int = 8192,
    key_col: str = "user_id",
    type_col: str = "event_type",
    sides: tuple[tuple[str, str], ...] = (("view", "a"), ("purchase", "b")),
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming twin of x17/x18's CMS join-size machinery: each
    micro-batch builds ONE count-min grid partial PER SIDE (the rows of
    each ``sides`` event type, keyed by ``key_col``) through the SAME
    ``operators/sketch.cms_build_portable`` core the batch queries use,
    and writes it to the additive ``streaming/epochs`` store
    ``side=<label>``.

    The CMS grid is ADDITIVE (bucket-wise exact int64 sums), so the
    folded stream grid EQUALS the batch grid over the union of drained
    rows — parity is exact equality, and the derived join-size estimate
    and broadcast/shuffle pick (``read_join_size_estimate``) match the
    batch x18 decision by construction. State per drained micro-batch
    is at most ``len(sides) * depth * width`` integers regardless of
    stream volume — the point: two KB-sized mergeable grids, built
    where each stream lives, give the optimizer |A ⋈ B| before any
    statistics exist."""
    from ..operators.sketch import cms_build_portable

    def _partial(batch_df: DataFrame, epoch_id: int) -> None:
        for etype, label in sides:
            side = batch_df.filter(F.col(type_col) == etype).select(
                F.col(key_col).cast("string").alias("k")
            )
            grid = cms_build_portable(side, "k", depth, width)
            write_epoch(grid, f"{state_dir}/side={label}", epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _partial
    )


def read_cms_pair_state(
    spark: SparkSession, state_dir: str, side: str
) -> DataFrame:
    """Fold one side's per-batch CMS partials by (depth, bucket)
    addition — the sketch's merge — back into a single grid, exact
    int64, equality-comparable to the batch ``cms_build_portable`` over
    the union of that side's drained rows. A side that never drained a
    row (no matching events yet, or every micro-batch was empty) has no
    partials on disk — that is an EMPTY grid, not an error, so the read
    degrades to zero rows instead of raising AnalysisException."""
    from pyspark.sql.types import LongType, StructField, StructType

    try:
        grid = spark.read.parquet(f"{state_dir}/side={side}")
    except Exception:  # AnalysisException: PATH_NOT_FOUND -> empty grid
        grid = spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("depth", LongType()),
                    StructField("bucket", LongType()),
                    StructField("cnt", LongType()),
                ]
            ),
        )
    return grid.groupBy("depth", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )


def read_join_size_estimate(
    spark: SparkSession,
    state_dir: str,
    row_bytes: int = 128,
    threshold_bytes: int = 131072,
) -> DataFrame:
    """The x17 inner-product estimate + x18 strategy pick computed from
    STREAM state alone: |A ⋈ B| ≈ min over depths of the bucket-wise
    grid dot product (Cormode–Muthukrishnan §4.2), and the
    broadcast-vs-shuffle decision from the smaller side's EXACT total
    row count — which the grid itself carries (each depth row sums to
    N_side, so one depth's bucket sum recovers it exactly). One row
    out: (n_a, n_b, est_join_size, build_side, strategy)."""
    from ..operators.sketch import broadcast_decision

    ga = read_cms_pair_state(spark, state_dir, "a").select(
        "depth", "bucket", F.col("cnt").alias("ca")
    )
    gb = read_cms_pair_state(spark, state_dir, "b").select(
        "depth", "bucket", F.col("cnt").alias("cb")
    )
    # Disjoint grids (no shared (depth, bucket)) mean the estimator's
    # dot product is 0 at every depth — min-over-depths of an empty set
    # must read 0, not NULL; same for a side with no drained rows.
    est = (
        ga.join(gb, ["depth", "bucket"])
        .groupBy("depth")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("e"))
        .agg(F.coalesce(F.min("e"), F.lit(0)).cast("bigint").alias("est_join_size"))
    )
    na = ga.filter(F.col("depth") == 0).agg(
        F.coalesce(F.sum("ca"), F.lit(0)).cast("bigint").alias("n_a")
    )
    nb = gb.filter(F.col("depth") == 0).agg(
        F.coalesce(F.sum("cb"), F.lit(0)).cast("bigint").alias("n_b")
    )
    build = F.when(F.col("n_a") <= F.col("n_b"), F.lit("a")).otherwise(F.lit("b"))
    build_rows = F.least("n_a", "n_b")
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(est))
        .select(
            "n_a",
            "n_b",
            "est_join_size",
            build.alias("build_side"),
            broadcast_decision(
                build_rows, row_bytes=row_bytes, threshold_bytes=threshold_bytes
            ).alias("strategy"),
        )
    )


def start_steered_join_stream(
    spark: SparkSession,
    source_dir: str,
    static_df: DataFrame,
    state_dir: str,
    build_side: str,
    out_dir: str,
    checkpoint_dir: str,
    schema,
    on,
    row_bytes: int = 128,
    threshold_bytes: int = 131072,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream-static equi-join whose per-batch PHYSICAL strategy is
    picked from the persisted CMS pair state — the 100 TB ingest
    scenario the sketch store exists for (VERDICT r11 #6): the static
    build side's exact row count is recovered from the folded grid
    (``read_cms_pair_state`` — KB of mergeable state written where the
    build side's ingest ran, possibly by another job), and each drained
    micro-batch plans ``probe.join(broadcast(static))`` when that count
    fits ``threshold_bytes`` and a plain shuffle join when it does not.
    No ANALYZE, no table statistics, no scan of the static side beyond
    the one the join itself needs.

    Exactly-once: each epoch writes ``out_dir`` in the
    ``streaming/epochs`` layout, and the chosen strategy is stamped on
    every row (``join_strategy``) so the decision is part of the
    audited output, not a log line. The grid is re-read per epoch — a
    concurrent ingest growing the build side flips the decision at the
    next micro-batch, which is the point of steering from live state."""
    from ..operators.sketch import cms_steered_join_with_strategy

    def _join(batch_df: DataFrame, epoch_id: int) -> None:
        grid = read_cms_pair_state(spark, state_dir, build_side)
        joined, strategy = cms_steered_join_with_strategy(
            batch_df,
            static_df,
            on,
            grid=grid,
            row_bytes=row_bytes,
            threshold_bytes=threshold_bytes,
        )
        write_epoch(joined.withColumn("join_strategy", F.lit(strategy)), out_dir, epoch_id)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _join
    )


def start_snapshot_sink_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    table_dir: str,
    checkpoint_dir: str,
    key_col: str,
    version_col: str,
    max_files_per_trigger: int = 1,
    auto_compact_files: int | None = None,
) -> StreamingQuery:
    """Streaming sink INTO the snapshot-table kernel (round 11): each
    drained micro-batch MERGES through ``operators.layout.
    snapshot_upsert``, publishing one new immutable version per epoch —
    the streaming half of the lakehouse story. Readers keep snapshot
    isolation DURING ingestion (a reader planned at version N still
    reads N after epoch N+1 commits), every micro-batch is a
    time-travel point (``snapshot_read(version)``), and
    ``snapshot_vacuum`` bounds history by retention.

    Exactly-once versioning via an EPOCH LEDGER: after a successful
    commit the handler creates ``_epoch.<id>`` (one atomic empty-file
    create, the same primitive as the version markers); a replayed
    epoch — Structured Streaming re-runs the last batch when the
    offset write raced a crash — finds its ledger entry and skips.
    The ledger is written AFTER the commit, so the one crash window
    (between commit and ledger) degrades to a duplicate VERSION whose
    table STATE is identical — the keep-latest merge is content-
    idempotent — i.e. at-least-once versions, exactly-once state,
    never lost or doubled rows. This is `_delta_log`'s txn-id dedup
    reduced to its kernel.

    ``auto_compact_files``: when set, each epoch checks the freshly
    committed version's file count and, past the threshold, runs
    ``snapshot_compact`` inline — Delta's auto-OPTIMIZE reduced to the
    same kernel. The compacted rewrite is its own committed version
    (state-identical, so a crash between commit and compact merely
    defers compaction to the next epoch), and because it runs AFTER
    the epoch ledger write, a replayed epoch skips both the merge and
    the rewrite."""
    from ..operators.layout import _fs, snapshot_compact, snapshot_history, snapshot_upsert

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        fs, jPath = _fs(sess, table_dir)
        ledger = jPath(f"{table_dir}/_epoch.{epoch_id}")
        if fs.exists(ledger):
            return  # replayed epoch: its version is already committed
        snapshot_upsert(sess, table_dir, batch_df, key_col, version_col)
        out = fs.create(ledger, True)
        out.close()
        if auto_compact_files is not None:
            hist = snapshot_history(sess, table_dir).collect()
            latest = max(hist, key=lambda r: r["version"])
            if latest["n_files"] > auto_compact_files:
                snapshot_compact(sess, table_dir)

    return start_file_stream(
        spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, _commit
    )
