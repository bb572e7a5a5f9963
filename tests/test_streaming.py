"""Streaming tests (SURVEY §5.2-5): batch/stream parity on the same
input, exactly-once on restart, and watermarked window/session aggs."""

from __future__ import annotations

import datetime as dt
import glob
import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from e_commerce_data_engineering_spark.functions.validate import ERR_NUM_ITEMS
from e_commerce_data_engineering_spark.pipeline import process_raw, read_raw_jsonl, run_batch
from e_commerce_data_engineering_spark.sources.generator import generate_orders
from e_commerce_data_engineering_spark.streaming.pipeline import (
    sessionized_event_counts,
    start_processing_stream,
    windowed_event_counts,
)


def _write_raw(spark, tmp_path, n=80, seed=5):
    lines = generate_orders(spark, n, seed=seed).toJSON().collect()
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "a.jsonl").write_text("\n".join(lines[: n // 2]) + "\n")
    (raw_dir / "b.jsonl").write_text(
        "\n".join(lines[n // 2 :]) + "\nnot-json\n" + json.dumps({"order_id": "", "total_amount": -1.0}) + "\n"
    )
    return str(raw_dir)


def _read_processed(spark, out_dir):
    files = glob.glob(f"{out_dir}/year=*/month=*/day=*/*.json")
    assert files
    rows = []
    for fp in files:
        with open(fp) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def test_stream_batch_parity(spark, tmp_path):
    raw_dir = _write_raw(spark, tmp_path)
    out_dir = str(tmp_path / "processed")
    q = start_processing_stream(
        spark,
        raw_dir,
        out_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        quarantine_dir=str(tmp_path / "quarantine"),
        available_now=True,
    )
    q.awaitTermination(120)

    stream_rows = _read_processed(spark, out_dir)
    batch_df, invalid, corrupt = process_raw(read_raw_jsonl(spark, raw_dir))
    batch_rows = [json.loads(s) for s in batch_df.toJSON().collect()]

    key = lambda r: r["order_id"]
    stream_rows.sort(key=key)
    batch_rows.sort(key=key)
    assert len(stream_rows) == len(batch_rows) == 80
    for s, b in zip(stream_rows, batch_rows):
        s.pop("processed_at"), b.pop("processed_at")
        assert s == b, s["order_id"]
    assert invalid.count() == 1 and corrupt.count() == 1
    qrows = _read_processed(spark, str(tmp_path / "quarantine"))
    assert len(qrows) == 1 and "Montant total invalide" in qrows[0]["errors"]


def test_stream_restart_is_exactly_once(spark, tmp_path):
    """Re-running with the same checkpoint must not duplicate output —
    the upgrade over the reference's duplicate-on-reprocess semantics."""
    raw_dir = _write_raw(spark, tmp_path, n=40, seed=9)
    out_dir = str(tmp_path / "processed")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        q = start_processing_stream(spark, raw_dir, out_dir, ckpt, available_now=True)
        q.awaitTermination(120)
    assert len(_read_processed(spark, out_dir)) == 40


def test_zero_num_items_is_quarantined_not_fatal(spark, tmp_path):
    """An order whose items and subtotal agree but whose ``num_items`` is
    0 is quarantined: under ANSI mode ``subtotal / num_items`` would raise
    DIVIDE_BY_ZERO and abort the batch write, and the stream would fail
    the same epoch again on every restart."""
    good = json.loads(generate_orders(spark, 1, seed=13).toJSON().first())
    zero = dict(good, order_id="ORD-ZERO-ITEMS", num_items=0)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "a.jsonl").write_text(json.dumps(good) + "\n" + json.dumps(zero) + "\n")

    res = run_batch(
        spark, str(raw_dir), str(tmp_path / "b_out"), str(tmp_path / "b_quarantine")
    )
    assert (res.total_processed, res.invalid_orders, res.corrupt_lines) == (1, 1, 0)

    q = start_processing_stream(
        spark,
        str(raw_dir),
        str(tmp_path / "s_out"),
        str(tmp_path / "ckpt"),
        quarantine_dir=str(tmp_path / "s_quarantine"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert [r["order_id"] for r in _read_processed(spark, str(tmp_path / "s_out"))] == [good["order_id"]]
    (qrow,) = _read_processed(spark, str(tmp_path / "s_quarantine"))
    assert qrow["order_id"] == "ORD-ZERO-ITEMS" and ERR_NUM_ITEMS in qrow["errors"]


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)


def _event(ts_min, user=1, etype="click", value=1.0):
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    return (base + dt.timedelta(minutes=ts_min), user, etype, value)


def test_windowed_counts_with_watermark_drops_late_rows(spark, tmp_path):
    """Two checkpointed AvailableNow runs: run 1 advances the watermark
    to 170 min (200−30); run 2 delivers a 5-min 'late' event, which the
    persisted watermark must drop."""
    src = tmp_path / "events"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "win_out")

    def _run():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
        agg = windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    on_time = [_event(m) for m in (0, 10, 50, 70, 200)]
    spark.createDataFrame(on_time, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(str(src))
    _run()
    late = [_event(5, etype="late")]
    spark.createDataFrame(late, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(str(src))
    _run()

    rows = {
        (r["window_start"].isoformat(), r["event_type"]): r["n"]
        for r in spark.read.parquet(sink).collect()
    }
    # watermark-closed windows: hour-0 (events 0,10,50) and hour-1 (70);
    # the hour-3 window (200) stays open; the late 5-min row is dropped
    assert rows.get(("2026-01-01T00:00:00", "click")) == 3, rows
    assert rows.get(("2026-01-01T01:00:00", "click")) == 1, rows
    assert all(et != "late" for (_, et) in rows), rows


def test_watermark_sized_from_lateness_profile(spark, tmp_path):
    """The full e25 → watermark loop: measure per-event lateness in
    batch (event_lateness), size the delay at the 97th percentile
    (choose_watermark_delay), deploy the watermarked stream with it,
    and pin the accounting — the stream drops EXACTLY the profile's
    tail mass (the one straggler beyond the delay) while keeping the
    late-but-covered row."""
    import math

    from e_commerce_data_engineering_spark.streaming.pipeline import (
        choose_watermark_delay,
        event_lateness,
        start_watermarked_counts_stream,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    base = dt.datetime(2026, 1, 1, 0, 0, 0)

    def ev(i, minute):
        return (i, base + dt.timedelta(minutes=minute), 1, "click", 1.0)

    # arrival log (event_id = arrival order), one file per micro-batch:
    # three on-time batches, then a batch with a mildly-late row
    # (11 min behind the 29-min frontier), one straggler (27 min
    # behind), and one on-time row
    arrival_batches = [
        [ev(i, i) for i in range(10)],
        [ev(i, i) for i in range(10, 20)],
        [ev(i, i) for i in range(20, 30)],
        [ev(30, 18), ev(31, 2), ev(32, 30)],
    ]
    audit_rows = [e for b in arrival_batches for e in b]
    audit = spark.createDataFrame(audit_rows, schema)

    # 1) the batch audit: lateness vs the running frontier
    prof = event_lateness(audit)
    lates = sorted(r["late_sec"] for r in prof.collect())
    assert lates[-2:] == [660.0, 1620.0] and set(lates[:-2]) == {0.0}
    # 2) size the watermark: p97 of 33 samples interpolates between the
    # two late values -> 660 + 0.04*960 = 698.4, ceil 699
    delay = choose_watermark_delay(prof, quantile=0.97)
    assert delay == math.ceil(660 + (0.97 * 32 - 31) * 960) == 699
    tail_mass = prof.filter(F.col("late_sec") > delay).count()
    assert tail_mass == 1  # only the 1620 s straggler is beyond the delay

    # 3) deploy: replay the arrival log through the watermarked stream
    src = tmp_path / "wm_events"
    src.mkdir()
    sink = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "wm_ckpt")

    def run():
        q = start_watermarked_counts_stream(
            spark, str(src), sink, ckpt, schema, delay_seconds=delay
        )
        q.awaitTermination(120)

    for batch in arrival_batches:
        spark.createDataFrame(batch, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        run()
    # flush row far in the future closes every populated window
    spark.createDataFrame([ev(33, 120)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run()

    got = {
        r["window_start"].isoformat(): r["n"]
        for r in spark.read.parquet(sink).collect()
    }
    # straggler's window lost exactly one row; the covered late row
    # (18 min, window [10,20)) was still open and counted
    assert got["2026-01-01T00:00:00"] == 10, got
    assert got["2026-01-01T00:10:00"] == 11, got
    assert got["2026-01-01T00:20:00"] == 10, got
    assert got["2026-01-01T00:30:00"] == 1, got
    # 4) accounting: stream total == batch total − the profiled tail mass
    batch_total = audit.count()
    stream_total = sum(
        n for w, n in got.items() if w != "2026-01-01T02:00:00"
    )
    assert stream_total == batch_total - tail_mass


def test_choose_watermark_delay_empty_profile(spark):
    """No measured lateness → delay 0 (watermark disabled-equivalent),
    not a crash on the NULL percentile."""
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        choose_watermark_delay,
    )

    empty = spark.createDataFrame([], "event_type string, day date, late_sec double")
    assert choose_watermark_delay(empty) == 0


def test_streaming_dedup_with_watermark(spark, tmp_path):
    """Stateful streaming dedup: duplicate event ids arriving within
    the watermark horizon are dropped exactly once (the state-store
    path the reference lacks entirely — SURVEY §2.9 'State')."""
    import pyspark.sql.types as T2

    schema = T2.StructType(
        [
            T2.StructField("ts", T2.TimestampType(), False),
            T2.StructField("event_id", T2.LongType(), False),
        ]
    )
    src = tmp_path / "dupsrc"
    src.mkdir()
    base = dt.datetime(2026, 1, 1)
    rows = [
        (base + dt.timedelta(minutes=m), eid)
        for m, eid in [(0, 1), (1, 2), (2, 1), (3, 3), (4, 2), (5, 4)]
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "p1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect())
    assert got == [1, 2, 3, 4]


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState custom operator: per-user accumulators
    carry across micro-batches via the state store."""
    from e_commerce_data_engineering_spark.streaming.stateful import running_user_totals

    schema = EVENT_SCHEMA
    src = tmp_path / "statesrc"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_state")

    collected = []

    def _run():
        # memory sink can't recover from a checkpoint; foreachBatch can,
        # which is what exercises cross-restart state restoration here.
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            running_user_totals(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: collected.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [_event(0, user=1, value=2.0), _event(1, user=1, value=3.0), _event(2, user=2, value=5.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    _run()
    b2 = [_event(3, user=1, value=10.0)]
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))
    _run()  # state restored from checkpoint → user 1 continues at 2 events

    latest = {}
    for r in collected:  # update-mode rows in batch order; last snapshot wins
        latest[r["user_id"]] = (r["n_events"], r["total_value"])
    assert latest[1] == (3, 15.0), collected
    assert latest[2] == (1, 5.0), collected


def test_session_window_stream(spark, tmp_path):
    src = tmp_path / "sess"
    src.mkdir()
    evs = [_event(m, user=7) for m in (0, 5, 10, 90, 95)] + [_event(300, user=7)]
    spark.createDataFrame(evs, EVENT_SCHEMA).write.parquet(str(src / "p1"))
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src / "*"))
    q = (
        sessionized_event_counts(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    done = sorted(
        (r["session_start"].isoformat(), r["n_events"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    )
    # sessions: (0,5,10)=3 events, (90,95)=2; the 300-min session may
    # still be open depending on final watermark — assert the closed ones
    assert ("2026-01-01T00:00:00", 3) in done
    assert ("2026-01-01T01:30:00", 2) in done


def test_stream_static_broadcast_join(spark, tmp_path):
    from e_commerce_data_engineering_spark.streaming.pipeline import enriched_event_stream

    src = tmp_path / "enr"
    src.mkdir()
    evs = [_event(m, user=u) for m, u in [(0, 1), (1, 2), (2, 1), (3, 9)]]
    spark.createDataFrame(evs, EVENT_SCHEMA).write.parquet(str(src / "p1"))
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src / "*"))
    q = (
        enriched_event_stream(stream, dim)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enr_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r["user_id"], r["tier"]) for r in spark.sql("SELECT user_id, tier FROM enr_out").collect()}
    assert rows == {(1, "gold"), (2, "silver"), (9, None)}


def test_stream_stream_interval_join(spark, tmp_path):
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    csrc = tmp_path / "clicks"
    psrc = tmp_path / "purchases"
    csrc.mkdir(), psrc.mkdir()
    clicks = [_event(m, user=u, etype="click") for m, u in [(0, 1), (10, 2), (100, 1)]]
    # purchases: u1@20 joins click@0 (20min gap); u2@50 misses (40min);
    # u1@110 joins click@100 (10min) AND is outside click@0's window
    purchases = [
        _event(20, user=1, etype="purchase", value=9.0),
        _event(50, user=2, etype="purchase", value=7.0),
        _event(110, user=1, etype="purchase", value=5.0),
    ]
    spark.createDataFrame(clicks, EVENT_SCHEMA).write.parquet(str(csrc / "p"))
    spark.createDataFrame(purchases, EVENT_SCHEMA).write.parquet(str(psrc / "p"))
    cs = spark.readStream.schema(EVENT_SCHEMA).parquet(str(csrc / "*"))
    ps = spark.readStream.schema(EVENT_SCHEMA).parquet(str(psrc / "*"))
    q = (
        stream_stream_interval_join(cs, ps, within="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["user_id"], r["click_ts"].minute, r["purchase_ts"].minute, r["purchase_value"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    assert rows == {(1, 0, 20, 9.0), (1, 40, 50, 5.0)}, rows


def test_streaming_upsert_converges_to_keep_latest(spark, tmp_path):
    """foreachBatch CDC merge: change files drain one per micro-batch
    into a keep-latest parquet table; a checkpointed re-run with no new
    files leaves the table untouched (idempotent merge = effective
    exactly-once table state)."""
    import os
    import time

    from e_commerce_data_engineering_spark.streaming.pipeline import start_upsert_stream

    src = tmp_path / "changes"
    src.mkdir()
    f1 = src / "c1.jsonl"
    f2 = src / "c2.jsonl"
    f1.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": "a", "v": 1.0, "ver": 1},
                {"k": "b", "v": 2.0, "ver": 1},
                {"k": "c", "v": 3.0, "ver": 1},
            ]
        )
    )
    f2.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": "b", "v": 20.0, "ver": 2},   # update
                {"k": "d", "v": 4.0, "ver": 1},    # insert
                {"k": "c", "v": -1.0, "ver": 0},   # stale: must lose
            ]
        )
    )
    now = time.time()
    os.utime(f1, (now - 60, now - 60))  # deterministic file order
    os.utime(f2, (now, now))

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    target = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    q = start_upsert_stream(spark, str(src), target, ckpt, "k", "ver", schema)
    q.awaitTermination(120)

    got = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(target).collect()}
    assert got == {"a": (1.0, 1), "b": (20.0, 2), "c": (3.0, 1), "d": (4.0, 1)}

    # restart with same checkpoint, no new files: table must not change
    before = sorted(map(tuple, spark.read.parquet(target).collect()))
    q2 = start_upsert_stream(spark, str(src), target, ckpt, "k", "ver", schema)
    q2.awaitTermination(120)
    after = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert before == after


def test_streaming_incremental_dedup_against_corpus(spark, tmp_path):
    """Crawl-ingest dedup: each micro-batch is checked against the
    accepted corpus's LSH signature store, batch-internal near-dups
    collapse to one keeper, and a checkpointed replay (fresh query,
    same checkpoint) changes nothing — verdicts depend on doc ids, not
    arrival order."""
    import os
    import time

    from e_commerce_data_engineering_spark.streaming.dedup_stream import (
        start_dedup_stream,
    )

    base = "spark line column order small sort column sort fast value scan"
    near = base + " extra"                      # near-dup of base
    other = "totally different words about streams windows and states"
    src = tmp_path / "crawl"
    src.mkdir()
    f1 = src / "b1.jsonl"
    f2 = src / "b2.jsonl"
    f1.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": base},
                {"doc_id": 2, "text": near},    # intra-batch dup of 1 -> dropped
                {"doc_id": 3, "text": other},
            ]
        )
    )
    f2.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 4, "text": base},    # corpus dup of 1 -> dropped
                {"doc_id": 5, "text": "brand new content unseen so far ok"},
            ]
        )
    )
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    accepted = str(tmp_path / "accepted")
    state = str(tmp_path / "sigstore")
    ckpt = str(tmp_path / "ckpt-dedup")

    def _run():
        q = start_dedup_stream(
            spark, str(src), accepted, state, ckpt, schema,
            jaccard_threshold=0.5, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    _run()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(accepted).collect())
    assert kept == [1, 3, 5]
    # the signature store holds one row per band per accepted doc
    store = spark.read.parquet(state)
    assert store.select("doc_id").distinct().count() == 3
    assert store.count() == 3 * 16

    # replay: fresh query over the same checkpoint sees no new files and
    # must leave both the corpus and the store unchanged
    _run()
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(accepted).collect())
    assert kept2 == [1, 3, 5]
    assert spark.read.parquet(state).count() == 3 * 16


def test_streaming_rollup_partials_are_replay_safe(spark, tmp_path):
    """Incremental materialized rollup: per-batch PARTIAL aggregates in
    batch_id dirs fold to the exact global aggregate, and a checkpointed
    replay overwrites partials instead of double-counting."""
    import os
    import time

    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_rollup,
        start_rollup_stream,
    )

    src = tmp_path / "facts"
    src.mkdir()
    f1, f2 = src / "f1.jsonl", src / "f2.jsonl"
    f1.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": "a", "v": 1.0}, {"k": "a", "v": 2.0}, {"k": "b", "v": 10.0},
            ]
        )
    )
    f2.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": "a", "v": 4.0}, {"k": "c", "v": 7.0},
            ]
        )
    )
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt-rollup")

    def _run():
        q = start_rollup_stream(spark, str(src), rollup, ckpt, schema, ["k"], "v")
        q.awaitTermination(120)

    _run()
    got = {r["k"]: (r["n"], r["total"]) for r in read_rollup(spark, rollup, ["k"]).collect()}
    assert got == {"a": (3, 7.0), "b": (1, 10.0), "c": (1, 7.0)}

    # replay with the same checkpoint: no new files, nothing double-counts
    _run()
    got2 = {r["k"]: (r["n"], r["total"]) for r in read_rollup(spark, rollup, ["k"]).collect()}
    assert got2 == got
    # one partial dir per drained micro-batch
    import glob

    assert len(glob.glob(f"{rollup}/batch_id=*")) == 2


def test_active_users_stream_matches_batch_e14(spark, tmp_path):
    """Batch/stream parity for rolling DAU/WAU: drain the events table
    through the streaming twin in two micro-batches, fold the state,
    and compare against the batch e14 query on the same table. Replay
    with the same checkpoint must not change anything (exactly-once)."""
    import glob
    import json as _json

    from e_commerce_data_engineering_spark.plans.registry import QUERIES, all_queries
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_rolling_active_users,
        start_active_users_stream,
    )

    sf = "/root/testdata/sf0.001"
    all_queries()
    ev = load_table(spark, sf, "events").select(
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "user_id",
    )
    rows = ev.collect()
    src = tmp_path / "events-src"
    src.mkdir()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        (src / f"part{i}.jsonl").write_text(
            "\n".join(_json.dumps({"ts": r["ts"], "user_id": r["user_id"]}) for r in chunk)
        )

    schema = T.StructType(
        [T.StructField("ts", T.StringType()), T.StructField("user_id", T.LongType())]
    )
    state = str(tmp_path / "au-state")
    ckpt = str(tmp_path / "au-ckpt")

    def _run():
        q = start_active_users_stream(spark, str(src), state, ckpt, schema)
        q.awaitTermination(120)

    _run()
    got = {
        r["day"]: (r["dau"], r["wau"], r["stickiness"])
        for r in read_rolling_active_users(spark, state).collect()
    }
    want = {
        r["day"]: (r["dau"], r["wau"], r["stickiness"])
        for r in QUERIES["e14_rolling_active_users"].spark_fn(spark, sf).collect()
    }
    assert got == want and len(got) > 0

    # replay: same checkpoint, no new files -> state unchanged
    _run()
    got2 = {
        r["day"]: (r["dau"], r["wau"], r["stickiness"])
        for r in read_rolling_active_users(spark, state).collect()
    }
    assert got2 == got
    assert len(glob.glob(f"{state}/batch_id=*")) >= 1


def test_streaming_exact_dedup_bloom_gated(spark, tmp_path):
    """Exact-dedup stream: batch-internal exact dups collapse to the
    min-id keeper, corpus dups are rejected across batches, Bloom-
    negative docs provably skip the store join (metrics expose the
    pruning), and a checkpointed replay changes nothing."""
    import os
    import time

    from e_commerce_data_engineering_spark.streaming.dedup_stream import (
        start_exact_dedup_stream,
    )

    a, b, c, d = "alpha text", "beta text", "gamma text", "delta text"
    src = tmp_path / "in"
    src.mkdir()
    f1 = src / "b1.jsonl"
    f2 = src / "b2.jsonl"
    f1.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": a},
                {"doc_id": 2, "text": a},   # intra-batch exact dup -> dropped
                {"doc_id": 3, "text": b},
            ]
        )
    )
    f2.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 4, "text": b},   # corpus dup -> dropped
                {"doc_id": 5, "text": c},
                {"doc_id": 6, "text": d},
            ]
        )
    )
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    accepted = str(tmp_path / "accepted")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt-exact")

    def _run():
        q = start_exact_dedup_stream(
            spark, str(src), accepted, state, ckpt, schema, max_files_per_trigger=1
        )
        q.awaitTermination(180)

    _run()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(accepted).collect())
    assert kept == [1, 3, 5, 6]

    # hash store: one row per accepted doc; bloom store: <= k bits per doc
    assert spark.read.parquet(f"{state}/hashes").count() == 4
    assert spark.read.parquet(f"{state}/bloom").select("bit").distinct().count() <= 4 * 5

    # metrics: batch 2 had 3 inputs, one corpus dup; the two novel docs
    # must be bloom-NEGATIVE (no false negatives -> store join skipped
    # for them), the dup bloom-positive
    m = {
        r["batch_id"]: r
        for r in spark.read.parquet(f"{state}/metrics").collect()
    }
    b2 = m[max(m)]
    assert b2["n_in"] == 3 and b2["n_kept"] == 2
    assert b2["n_store_checked"] >= 1            # the true dup always probes
    assert b2["n_bloom_negative"] + b2["n_store_checked"] == b2["n_batch_unique"]

    # replay: same checkpoint, no new files -> identical corpus and state
    _run()
    assert sorted(r["doc_id"] for r in spark.read.parquet(accepted).collect()) == kept
    assert spark.read.parquet(f"{state}/hashes").count() == 4


def test_streaming_segment_dedup_matches_batch_and_replays(spark, tmp_path):
    """Segment-dedup stream (t29's streaming twin): one-batch delivery
    reproduces the batch operator's reconstruction exactly; split
    delivery dedupes segments ACROSS batches (later docs lose spans
    already accepted earlier); checkpointed replay changes nothing."""
    import os
    import time

    from e_commerce_data_engineering_spark.operators.dedup import dedupe_segments
    from e_commerce_data_engineering_spark.streaming.dedup_stream import (
        start_segment_dedup_stream,
    )

    w = 3  # segment width for the test corpus
    docs = [
        {"doc_id": 1, "text": "a b c d e f"},            # segs: (a b c) (d e f)
        {"doc_id": 2, "text": "a b c x y z"},            # loses (a b c) to doc 1
        {"doc_id": 3, "text": "p q r s t u"},
        {"doc_id": 4, "text": "d e f p q r"},            # loses both across batches
        {"doc_id": 5, "text": "fresh tokens here"},
    ]
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    # --- one-batch delivery == batch operator semantics
    src1 = tmp_path / "in1"
    src1.mkdir()
    (src1 / "all.jsonl").write_text("\n".join(json.dumps(r) for r in docs))
    acc1 = str(tmp_path / "acc1")
    q = start_segment_dedup_stream(
        spark, str(src1), acc1, str(tmp_path / "st1"), str(tmp_path / "ck1"),
        schema, seg_w=w, max_files_per_trigger=10,
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: (r["clean_text"], r["n_segs"], r["n_kept_segs"])
        for r in spark.read.parquet(acc1).collect()
    }
    batch = dedupe_segments(
        spark.createDataFrame([(d["doc_id"], d["text"]) for d in docs], schema),
        "doc_id", "text", seg_w=w,
    ).collect()
    import hashlib

    for r in batch:
        text, n_segs, n_kept = got[r["doc_id"]]
        assert (n_segs, n_kept) == (r["n_segs"], r["n_kept_segs"]), r["doc_id"]
        assert hashlib.md5(text.encode()).hexdigest() == r["clean_md5"], r["doc_id"]

    # --- split delivery: cross-batch span suppression
    src2 = tmp_path / "in2"
    src2.mkdir()
    f1, f2 = src2 / "b1.jsonl", src2 / "b2.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in docs[:3]))
    f2.write_text("\n".join(json.dumps(r) for r in docs[3:]))
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))
    acc2 = str(tmp_path / "acc2")
    st2, ck2 = str(tmp_path / "st2"), str(tmp_path / "ck2")

    def _run():
        q2 = start_segment_dedup_stream(
            spark, str(src2), acc2, st2, ck2, schema, seg_w=w,
            max_files_per_trigger=1,
        )
        q2.awaitTermination(180)

    _run()
    got2 = {
        r["doc_id"]: (r["clean_text"], r["n_kept_segs"])
        for r in spark.read.parquet(acc2).collect()
    }
    # doc 4's spans (d e f) and (p q r) were both accepted in batch 1
    assert got2[4] == ("", 0)
    assert got2[2][0] == "x y z"
    assert got2[5][0] == "fresh tokens here"
    # same final segment set as the one-batch run
    n_store = spark.read.parquet(f"{st2}/seghashes").select("h").distinct().count()
    assert n_store == sum(v[2] for v in got.values())

    # --- replay: no new files -> identical output and store
    _run()
    got2b = {
        r["doc_id"]: (r["clean_text"], r["n_kept_segs"])
        for r in spark.read.parquet(acc2).collect()
    }
    assert got2b == got2
    assert (
        spark.read.parquet(f"{st2}/seghashes").select("h").distinct().count()
        == n_store
    )


def test_trending_stream_matches_batch_e15(spark, tmp_path):
    """Decayed-trending stream: folding per-batch partials with anchor
    rescaling converges to the batch e15 computation over the same
    events (float tolerance: the stream folds pow() factors instead of
    quantizing per event), and a checkpointed replay changes nothing."""
    import os
    import time

    from e_commerce_data_engineering_spark.plans.events import e15_trending_decay
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_trending,
        start_trending_stream,
    )

    base = dt.datetime(2026, 2, 1, 12, 0, 0)
    rows = []
    for i in range(200):
        rows.append(
            {
                "event_id": i,
                "ts": (base + dt.timedelta(hours=i)).isoformat(),
                "event_type": ["click", "view", "purchase"][i % 3],
                "value": round(1.0 + (i % 7) * 0.5, 2),
            }
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    # batch reference: e15 over the same rows staged as an events table
    sfdir = tmp_path / "sf"
    sfdir.mkdir()
    spark.createDataFrame(
        [(r["event_id"], dt.datetime.fromisoformat(r["ts"]), r["event_type"], r["value"]) for r in rows],
        schema,
    ).write.parquet(str(sfdir / "events.parquet"))
    want = {
        r["event_type"]: (r["n_events"], r["trend_score"], r["trend_rank"])
        for r in e15_trending_decay(spark, str(sfdir)).collect()
    }

    src = tmp_path / "in"
    src.mkdir()
    f1, f2 = src / "b1.jsonl", src / "b2.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in rows[:120]))
    f2.write_text("\n".join(json.dumps(r) for r in rows[120:]))
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def _run():
        q = start_trending_stream(
            spark, str(src), state, ckpt, schema, max_files_per_trigger=1
        )
        q.awaitTermination(180)

    _run()
    got = {
        r["event_type"]: (r["n_events"], r["trend_score"], r["trend_rank"])
        for r in read_trending(spark, state).collect()
    }
    assert set(got) == set(want)
    for et, (n, score, rank) in want.items():
        gn, gscore, grank = got[et]
        assert gn == n and grank == rank, (et, got[et], want[et])
        assert abs(gscore - score) <= 1e-6 * max(1.0, abs(score)), (et, gscore, score)

    _run()  # replay: no new files -> identical state
    again = {
        r["event_type"]: (r["n_events"], r["trend_score"], r["trend_rank"])
        for r in read_trending(spark, state).collect()
    }
    assert again == got


def test_streaming_listener_sees_observed_metrics(spark, tmp_path):
    """The observe() counters on the ingest stream must surface through
    a StreamingQueryListener's progress events — the CloudWatch-metrics
    analog the reference's README recommends but never implements
    (SURVEY §2.9 'Metrics'): rows and corrupt-line counts arrive
    per-batch without any extra pass over the data."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from tests.test_streaming import _write_raw  # self-import safe under pytest

    captured = []
    done = threading.Event()

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            row = event.progress.observedMetrics.get("ingest")
            if row is not None:
                captured.append((row["rows"], row["corrupt_lines"]))
                done.set()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        raw_dir = _write_raw(spark, tmp_path)
        q = start_processing_stream(
            spark,
            raw_dir,
            str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt-listener"),
            available_now=True,
        )
        q.awaitTermination(120)
        # listener delivery is async; give the event bus a moment
        done.wait(30)
    finally:
        spark.streams.removeListener(listener)
    total_rows = sum(r for r, _ in captured)
    total_corrupt = sum(c for _, c in captured)
    # _write_raw stages 82 lines: 80 valid + 1 invalid + 1 corrupt;
    # the corrupt line still parses as an ingest row (permissive mode)
    assert total_rows == 82, captured
    assert total_corrupt == 1, captured


def test_transition_stream_matches_batch_e18(spark, tmp_path):
    """Markov-transition stream: split delivery must produce the SAME
    counts as batch e18 over the union — including the transitions that
    SPAN the batch boundary (per-user last-event carry-over state) —
    and a checkpointed replay changes nothing."""
    import os
    import time

    from e_commerce_data_engineering_spark.plans.events import e18_transition_matrix
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_transitions,
        start_transition_stream,
    )

    base = dt.datetime(2026, 3, 1, 9, 0, 0)
    rows = []
    types = ["view", "click", "purchase"]
    for i in range(90):
        rows.append(
            {
                "event_id": i,
                "ts": (base + dt.timedelta(minutes=i)).isoformat(),
                "user_id": i % 7,
                "event_type": types[(i * i) % 3],
                "value": 1.0,
            }
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    sfdir = tmp_path / "sf"
    sfdir.mkdir()
    spark.createDataFrame(
        [
            (r["event_id"], dt.datetime.fromisoformat(r["ts"]), r["user_id"], r["event_type"], r["value"])
            for r in rows
        ],
        schema,
    ).write.parquet(str(sfdir / "events.parquet"))
    want = {
        (r["prev_type"], r["next_type"]): (r["n"], r["p"])
        for r in e18_transition_matrix(spark, str(sfdir)).collect()
    }

    src = tmp_path / "in"
    src.mkdir()
    f1, f2, f3 = src / "b1.jsonl", src / "b2.jsonl", src / "b3.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in rows[:30]))
    f2.write_text("\n".join(json.dumps(r) for r in rows[30:60]))
    f3.write_text("\n".join(json.dumps(r) for r in rows[60:]))
    now = time.time()
    os.utime(f1, (now - 120, now - 120))
    os.utime(f2, (now - 60, now - 60))
    os.utime(f3, (now, now))
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def _run():
        q = start_transition_stream(
            spark, str(src), state, ckpt, schema, max_files_per_trigger=1
        )
        q.awaitTermination(240)

    _run()
    got = {
        (r["prev_type"], r["next_type"]): (r["n"], r["p"])
        for r in read_transitions(spark, state).collect()
    }
    assert got == want

    _run()  # replay: no new files -> identical counts
    assert {
        (r["prev_type"], r["next_type"]): (r["n"], r["p"])
        for r in read_transitions(spark, state).collect()
    } == want


def test_attribution_stream_matches_batch_e21(spark, tmp_path):
    """Last-touch attribution stream: split delivery must credit the
    SAME channels as batch e21 over the union — including purchases
    whose last touch happened in an earlier batch (per-user
    last-non-purchase carry-over) — and a checkpointed replay changes
    nothing. Decimal partial sums re-fold exactly, so the values match
    bit-for-bit, not just approximately."""
    import os
    import time

    from e_commerce_data_engineering_spark.plans.events import (
        e21_last_touch_attribution,
    )
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_attribution,
        start_attribution_stream,
    )

    base = dt.datetime(2026, 4, 1, 9, 0, 0)
    rows = []
    types = ["view", "click", "purchase", "signup"]
    for i in range(120):
        rows.append(
            {
                "event_id": i,
                "ts": (base + dt.timedelta(minutes=i)).isoformat(),
                "user_id": i % 9,
                "event_type": types[(i * 7 + i * i) % 4],
                "value": round(1.37 * (i % 13) + 0.25, 2),
            }
        )
    # force a boundary-spanning credit: user 3's purchase opens batch 3
    rows[60]["user_id"] = 3
    rows[60]["event_type"] = "purchase"
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    sfdir = tmp_path / "sf"
    sfdir.mkdir()
    spark.createDataFrame(
        [
            (
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"]),
                r["user_id"],
                r["event_type"],
                r["value"],
            )
            for r in rows
        ],
        schema,
    ).write.parquet(str(sfdir / "events.parquet"))
    want = {
        r["channel"]: (r["n_purchases"], r["attributed_value"], r["avg_value"])
        for r in e21_last_touch_attribution(spark, str(sfdir)).collect()
    }
    assert want, "batch result empty — test data has no purchases"

    src = tmp_path / "in"
    src.mkdir()
    f1, f2, f3 = src / "b1.jsonl", src / "b2.jsonl", src / "b3.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in rows[:30]))
    f2.write_text("\n".join(json.dumps(r) for r in rows[30:60]))
    f3.write_text("\n".join(json.dumps(r) for r in rows[60:]))
    now = time.time()
    os.utime(f1, (now - 120, now - 120))
    os.utime(f2, (now - 60, now - 60))
    os.utime(f3, (now, now))
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def _run():
        q = start_attribution_stream(
            spark, str(src), state, ckpt, schema, max_files_per_trigger=1
        )
        q.awaitTermination(240)

    _run()
    got = {
        r["channel"]: (r["n_purchases"], r["attributed_value"], r["avg_value"])
        for r in read_attribution(spark, state).collect()
    }
    assert got == want

    _run()  # replay: no new files -> identical totals
    assert {
        r["channel"]: (r["n_purchases"], r["attributed_value"], r["avg_value"])
        for r in read_attribution(spark, state).collect()
    } == want


def test_daily_totals_stream_serves_e22_and_e23(spark, tmp_path):
    """One additive daily-totals store, two query-time finalizers:
    seasonality (e22) and CUSUM (e23) read from the stream state must
    equal the batch queries over the union exactly (decimal day totals
    re-fold bit-for-bit), and a checkpointed replay changes nothing."""
    import os
    import time

    from e_commerce_data_engineering_spark.plans.events import (
        e22_dow_seasonality,
        e23_cusum_changepoint,
    )
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_cusum,
        read_seasonality,
        start_daily_totals_stream,
    )

    base = dt.datetime(2026, 5, 1, 8, 0, 0)
    rows = []
    types = ["view", "click", "purchase"]
    for i in range(150):
        rows.append(
            {
                "event_id": i,
                "ts": (base + dt.timedelta(hours=i * 3)).isoformat(),
                "user_id": i % 11,
                "event_type": types[(i * 5 + 1) % 3],
                "value": round(2.11 * (i % 17) + 0.4, 2),
            }
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    sfdir = tmp_path / "sf"
    sfdir.mkdir()
    spark.createDataFrame(
        [
            (
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"]),
                r["user_id"],
                r["event_type"],
                r["value"],
            )
            for r in rows
        ],
        schema,
    ).write.parquet(str(sfdir / "events.parquet"))
    want_season = {
        (r["event_type"], r["dow"]): (r["n_days"], r["dow_mean_value"], r["seasonal_index"])
        for r in e22_dow_seasonality(spark, str(sfdir)).collect()
    }
    want_cusum = {
        (r["event_type"], r["day"]): (r["day_value"], r["cusum"], r["is_changepoint"])
        for r in e23_cusum_changepoint(spark, str(sfdir)).collect()
    }
    assert want_season and want_cusum

    src = tmp_path / "in"
    src.mkdir()
    f1, f2, f3 = src / "b1.jsonl", src / "b2.jsonl", src / "b3.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in rows[:50]))
    f2.write_text("\n".join(json.dumps(r) for r in rows[50:100]))
    f3.write_text("\n".join(json.dumps(r) for r in rows[100:]))
    now = time.time()
    os.utime(f1, (now - 120, now - 120))
    os.utime(f2, (now - 60, now - 60))
    os.utime(f3, (now, now))
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def _run():
        q = start_daily_totals_stream(
            spark, str(src), state, ckpt, schema, max_files_per_trigger=1
        )
        q.awaitTermination(240)

    _run()
    got_season = {
        (r["event_type"], r["dow"]): (r["n_days"], r["dow_mean_value"], r["seasonal_index"])
        for r in read_seasonality(spark, state).collect()
    }
    got_cusum = {
        (r["event_type"], r["day"]): (r["day_value"], r["cusum"], r["is_changepoint"])
        for r in read_cusum(spark, state).collect()
    }
    assert got_season == want_season
    assert got_cusum == want_cusum

    _run()  # replay: no new files -> identical state
    assert {
        (r["event_type"], r["dow"]): (r["n_days"], r["dow_mean_value"], r["seasonal_index"])
        for r in read_seasonality(spark, state).collect()
    } == want_season


def test_streaming_semantic_dedup_against_corpus(spark, tmp_path):
    """Online SemDeDup: micro-batches are cell-assigned with centroids
    trained once on the first batch, probed against the accepted
    members of their cell, intra-batch dups collapse to the min-id
    keeper, and a checkpointed replay changes nothing. Invariants: no
    two accepted vectors share a cell at cos >= threshold, and every
    rejected vector has an accepted same-cell witness."""
    import itertools
    import math
    import os
    import time

    from e_commerce_data_engineering_spark.streaming.dedup_stream import (
        start_semantic_dedup_stream,
    )

    dim = 8
    A = [1.0, 0.2, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0]
    B = [0.0, 0.0, 1.0, 0.3, 0.0, 0.0, 0.1, 0.0]
    C = [0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.4]
    A2 = [a + 0.01 * (i % 3) for i, a in enumerate(A)]   # near-dup of A
    A3 = [a - 0.012 * ((i + 1) % 2) for i, a in enumerate(A)]  # near-dup of A

    src = tmp_path / "vecs"
    src.mkdir()
    f1, f2 = src / "b1.jsonl", src / "b2.jsonl"
    f1.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"vec_id": 1, "embedding": A},
                {"vec_id": 2, "embedding": A2},   # intra-batch dup of 1
                {"vec_id": 3, "embedding": B},
            ]
        )
    )
    f2.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"vec_id": 4, "embedding": A3},   # corpus dup of 1
                {"vec_id": 5, "embedding": C},    # novel direction
            ]
        )
    )
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    accepted = str(tmp_path / "accepted")
    state = str(tmp_path / "semstate")
    ckpt = str(tmp_path / "ckpt-sem")

    def _run():
        q = start_semantic_dedup_stream(
            spark, str(src), accepted, state, ckpt, schema,
            nlist=2, cos_threshold=0.9, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    _run()
    kept = sorted(r["vec_id"] for r in spark.read.parquet(accepted).collect())
    assert kept == [1, 3, 5]

    # invariant 1: no accepted same-cell pair at cos >= threshold
    members = spark.read.option("basePath", f"{state}/members").parquet(
        f"{state}/members"
    )
    rows = [(r["cell"], r["id"], list(r["u"])) for r in members.collect()]
    assert sorted(r[1] for r in rows) == [1, 3, 5]
    for (c1, i1, u1), (c2, i2, u2) in itertools.combinations(rows, 2):
        if c1 == c2:
            assert sum(x * y for x, y in zip(u1, u2)) < 0.9, (i1, i2)

    # invariant 2: every rejected vector has an accepted same-cell
    # witness at cos >= threshold
    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    by_cell = {}
    for c, i, u in rows:
        by_cell.setdefault(c, []).append(u)
    centroids = [
        list(r["c"])
        for r in spark.read.parquet(f"{state}/centroids").orderBy("cell").collect()
    ]

    def cell_of(v):
        best, bc = -2.0, 0
        for idx, cent in enumerate(centroids):
            cu, vu = unit(cent), unit(v)
            d = sum(x * y for x, y in zip(cu, vu))
            if d > best:
                best, bc = d, idx
        return bc

    for rej in (A2, A3):
        c = cell_of(rej)
        assert any(
            sum(x * y for x, y in zip(unit(rej), u)) >= 0.9
            for u in by_cell.get(c, [])
        ), rej

    # replay: fresh query, same checkpoint, no new files -> unchanged
    _run()
    assert sorted(r["vec_id"] for r in spark.read.parquet(accepted).collect()) == [1, 3, 5]
    assert spark.read.option("basePath", f"{state}/members").parquet(
        f"{state}/members"
    ).count() == 3


def test_histogram_stream_matches_batch_x08(spark, tmp_path):
    """Batch/stream parity for the histogram-quantile sketch: stream
    lineitem's l_extendedprice in two micro-batches against the SAME
    bin edges the batch x08 query derives, fold the partial grids, and
    the quantile readout must match x08 row-for-row. Replay with the
    same checkpoint must change nothing (per-epoch overwrite)."""
    import glob
    import json as _json

    from e_commerce_data_engineering_spark.plans.graph_sketch import X08_BINS, X08_QS
    from e_commerce_data_engineering_spark.plans.registry import QUERIES, all_queries
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_histogram_quantiles,
        start_histogram_stream,
    )

    sf = "/root/testdata/sf0.001"
    all_queries()
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x")
    )
    # same edge derivation as the batch query (identical IEEE ops)
    stats = li.agg(F.min("x").alias("mn"), F.max("x").alias("mx")).first()
    mn = stats["mn"]
    width = max((stats["mx"] - mn) / X08_BINS, 1e-9)

    rows = [r["x"] for r in li.collect()]
    src = tmp_path / "hist-src"
    src.mkdir()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        (src / f"part{i}.jsonl").write_text(
            "\n".join(_json.dumps({"x": v}) for v in chunk)
        )

    schema = T.StructType([T.StructField("x", T.DoubleType())])
    state = str(tmp_path / "hist-state")
    ckpt = str(tmp_path / "hist-ckpt")

    def _run():
        q = start_histogram_stream(
            spark, str(src), state, ckpt, schema, "x", mn, width, nbins=X08_BINS
        )
        q.awaitTermination(120)

    _run()
    got = {
        r["q"]: (r["bin"], r["cum_count"], r["est_value"])
        for r in read_histogram_quantiles(spark, state, mn, width, qs=X08_QS).collect()
    }
    want = {
        r["q"]: (r["bin"], r["cum_count"], r["est_value"])
        for r in QUERIES["x08_histogram_quantiles"].spark_fn(spark, sf).collect()
    }
    assert got == want and len(got) == len(X08_QS)
    assert len(glob.glob(f"{state}/batch_id=*")) == 2

    _run()  # replay: checkpoint says all files are drained -> no-op
    got2 = {
        r["q"]: (r["bin"], r["cum_count"], r["est_value"])
        for r in read_histogram_quantiles(spark, state, mn, width, qs=X08_QS).collect()
    }
    assert got2 == got


def test_kmv_stream_matches_batch_sketch(spark, tmp_path):
    """Batch/stream parity for the KMV distinct sketch: documents
    streamed in micro-batches, per-batch K-smallest partials folded
    read-side, must equal the sketch computed over the full corpus in
    one pass (KMV's merge property is exact, not approximate), and the
    '__all__' row equals the sketch of the union. Replay with the same
    checkpoint changes nothing."""
    import json as _json

    from e_commerce_data_engineering_spark.functions.text import tokens
    from e_commerce_data_engineering_spark.operators.sketch import (
        kmv_estimate,
        kmv_hash,
        kmv_sketch,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_kmv_estimates,
        start_kmv_stream,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("source", "text")
    rows = [(r["source"], r["text"]) for r in docs.collect()]
    src = tmp_path / "kmv-src"
    src.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third :] if i == 2 else rows[i * third : (i + 1) * third]
        (src / f"part{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"source": s, "text": t}) for s, t in chunk
            )
        )

    schema = T.StructType(
        [T.StructField("source", T.StringType()), T.StructField("text", T.StringType())]
    )
    state = str(tmp_path / "kmv-state")
    ckpt = str(tmp_path / "kmv-ckpt")

    def _run():
        q = start_kmv_stream(spark, str(src), state, ckpt, schema, k=8)
        q.awaitTermination(120)

    _run()
    got = {
        r["source"]: (r["n_sk"], r["kth_hash"], round(r["est_distinct"], 6))
        for r in read_kmv_estimates(spark, state, k=8).collect()
    }

    # one-pass batch sketch over the full corpus through the same core
    hv = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .select("source", kmv_hash(F.col("tok")).alias("hv"))
        .distinct()
    )
    per_source = kmv_sketch(hv, ["source"], 8)
    merged = kmv_sketch(
        per_source.select(F.lit("__all__").alias("source"), "hv"), ["source"], 8
    )
    want = {
        r["source"]: (r["n_sk"], r["kth_hash"], round(r["est_distinct"], 6))
        for r in kmv_estimate(per_source.unionByName(merged), ["source"], 8).collect()
    }
    assert got == want and "__all__" in got and len(got) >= 2

    _run()  # replay drained checkpoint -> no-op
    got2 = {
        r["source"]: (r["n_sk"], r["kth_hash"], round(r["est_distinct"], 6))
        for r in read_kmv_estimates(spark, state, k=8).collect()
    }
    assert got2 == got


def test_ams_stream_matches_batch_sketch(spark, tmp_path):
    """Batch/stream parity for the AMS F2 sketch: documents streamed in
    micro-batches, per-batch 9-row (i, zi) partials summed read-side,
    must EQUAL (exact int64, zero tolerance) the Z vector of the full
    corpus computed in one batch pass — Z_i is additive, the sketch's
    merge — and the folded median-of-means estimate must equal the
    batch estimate. Replay with the same checkpoint changes nothing."""
    import json as _json

    from e_commerce_data_engineering_spark.functions.text import tokens
    from e_commerce_data_engineering_spark.plans.graph_sketch import (
        ams_f2_estimate,
        ams_zvector,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_ams_f2,
        read_ams_state,
        start_ams_stream,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("text")
    rows = [r["text"] for r in docs.collect()]
    src = tmp_path / "ams-src"
    src.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third :] if i == 2 else rows[i * third : (i + 1) * third]
        (src / f"part{i}.jsonl").write_text(
            "\n".join(_json.dumps({"text": t}) for t in chunk)
        )

    schema = T.StructType([T.StructField("text", T.StringType())])
    state = str(tmp_path / "ams-state")
    ckpt = str(tmp_path / "ams-ckpt")

    def _run():
        q = start_ams_stream(spark, str(src), state, ckpt, schema)
        q.awaitTermination(120)

    _run()
    got_z = {r["i"]: r["zi"] for r in read_ams_state(spark, state).collect()}

    # one-pass batch Z over the full corpus through the same core
    per_tok = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    want_z = {r["i"]: r["zi"] for r in ams_zvector(per_tok).collect()}
    assert got_z == want_z and len(got_z) == 9  # exact, not approximate

    got_f2 = read_ams_f2(spark, state).collect()[0]["ams_f2"]
    want_f2 = ams_f2_estimate(ams_zvector(per_tok)).collect()[0]["ams_f2"]
    assert got_f2 == want_f2

    _run()  # replay drained checkpoint -> no-op
    got_z2 = {r["i"]: r["zi"] for r in read_ams_state(spark, state).collect()}
    assert got_z2 == got_z


def test_count_sketch_stream_matches_batch_grid(spark, tmp_path):
    """Batch/stream parity for the x12 Count-Sketch: documents streamed
    in micro-batches, per-batch (d, bucket, s) grid partials summed
    read-side, must EQUAL (exact int64, zero tolerance) the grid of
    the full corpus computed in one batch pass — the signed cells are
    additive, the sketch's merge — and the folded median probe for the
    top tokens must equal the batch estimates. Replay with the same
    checkpoint changes nothing."""
    import json as _json

    from e_commerce_data_engineering_spark.functions.text import tokens
    from e_commerce_data_engineering_spark.plans.graph_sketch import (
        cs_estimates,
        cs_grid,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_count_sketch_estimates,
        read_count_sketch_state,
        start_count_sketch_stream,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("text")
    rows = [r["text"] for r in docs.collect()]
    src = tmp_path / "cs-src"
    src.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third :] if i == 2 else rows[i * third : (i + 1) * third]
        (src / f"part{i}.jsonl").write_text(
            "\n".join(_json.dumps({"text": t}) for t in chunk)
        )

    schema = T.StructType([T.StructField("text", T.StringType())])
    state = str(tmp_path / "cs-state")
    ckpt = str(tmp_path / "cs-ckpt")

    def _run():
        q = start_count_sketch_stream(spark, str(src), state, ckpt, schema)
        q.awaitTermination(120)

    _run()
    got = {
        (r["d"], r["bucket"]): r["s"]
        for r in read_count_sketch_state(spark, state).collect()
        if r["s"] != 0
    }

    # one-pass batch grid over the full corpus through the same core
    per_tok = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    want = {
        (r["d"], r["bucket"]): r["s"]
        for r in cs_grid(per_tok).collect()
        if r["s"] != 0
    }
    assert got == want and len(want) > 0  # exact, not approximate

    # probe parity for the 5 hottest tokens through the same core
    top = (
        per_tok.orderBy(F.col("cnt").desc(), "token").limit(5).select("token")
    )
    got_est = {
        r["token"]: r["cs_est"]
        for r in read_count_sketch_estimates(spark, state, top).collect()
    }
    want_est = {
        r["token"]: r["cs_est"]
        for r in cs_estimates(cs_grid(per_tok), top).collect()
    }
    assert got_est == want_est and len(got_est) == 5

    _run()  # replay drained checkpoint -> no-op
    got2 = {
        (r["d"], r["bucket"]): r["s"]
        for r in read_count_sketch_state(spark, state).collect()
        if r["s"] != 0
    }
    assert got2 == got


def test_linear_counting_stream_matches_batch_bitmap(spark, tmp_path):
    """Batch/stream parity for the x13 linear-counting bitmap:
    documents streamed in micro-batches, per-batch DISTINCT
    (source, bucket) hit sets unioned read-side, must EQUAL (exact set
    equality — union is the bitmap's merge) the batch bitmap over the
    full corpus, and the folded occupancy estimates must match.
    Replay with the same checkpoint changes nothing."""
    import json as _json

    from e_commerce_data_engineering_spark.functions.text import tokens
    from e_commerce_data_engineering_spark.operators.sketch import portable_hash
    from e_commerce_data_engineering_spark.plans.graph_sketch import _X13_M
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_linear_counting_estimates,
        read_linear_counting_state,
        start_linear_counting_stream,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("source", "text")
    rows = [(r["source"], r["text"]) for r in docs.collect()]
    src = tmp_path / "lc-src"
    src.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third :] if i == 2 else rows[i * third : (i + 1) * third]
        (src / f"part{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"source": s0, "text": t}) for s0, t in chunk
            )
        )

    schema = T.StructType(
        [T.StructField("source", T.StringType()), T.StructField("text", T.StringType())]
    )
    state = str(tmp_path / "lc-state")
    ckpt = str(tmp_path / "lc-ckpt")

    def _run():
        q = start_linear_counting_stream(spark, str(src), state, ckpt, schema)
        q.awaitTermination(120)

    _run()
    got = {
        (r["source"], r["b"])
        for r in read_linear_counting_state(spark, state).collect()
    }
    want = {
        (r["source"], r["b"])
        for r in docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("token")
        )
        .select("source", (portable_hash(F.col("token"), 31) % _X13_M).alias("b"))
        .distinct()
        .collect()
    }
    assert got == want and len(want) > 0  # exact set equality

    ests = {
        r["source"]: r["lc_est"]
        for r in read_linear_counting_estimates(spark, state).collect()
    }
    assert set(ests) == {s0 for s0, _ in want} and all(v > 0 for v in ests.values())

    _run()  # replay drained checkpoint -> no-op
    got2 = {
        (r["source"], r["b"])
        for r in read_linear_counting_state(spark, state).collect()
    }
    assert got2 == got


def test_streaming_dedup_waterfall_matches_batch_and_replays(spark, tmp_path):
    """Waterfall stream (t55's streaming twin): the three-stage
    sequencing runs incrementally with tombstone retractions, and the
    final survivor set (accepted minus tombstones) is IDENTICAL to the
    batch waterfall over the union of all batches — expected set
    computed independently in DuckDB with t55's exact stage rules.
    Checkpointed replay changes nothing."""
    import os
    import time

    import duckdb

    from e_commerce_data_engineering_spark.streaming.dedup_stream import (
        read_waterfall_survivors,
        start_dedup_waterfall_stream,
    )

    pad = "zq" * 20  # 40-char shared lead so prefix blocks (32) align
    docs = [
        # batch 1
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta eta theta"},
        {"doc_id": 2, "text": "alpha beta gamma delta epsilon zeta eta theta"},  # exact dup (intra)
        {"doc_id": 3, "text": pad + " one two three"},
        {"doc_id": 4, "text": pad + " one two three four five"},  # subsumes 3 (intra)
        {"doc_id": 5, "text": "short stub " + pad + " seed words linger"},
        {"doc_id": 6, "text": "kappa lambda mu nu xi omicron pi rho"},
        {"doc_id": 7, "text": "sigma tau upsilon phi chi psi omega"},
        {"doc_id": 8, "text": "sigma tau  upsilon phi chi psi omega"},  # fp dup of 7 (intra)
        # batch 2
        {"doc_id": 10, "text": "alpha beta gamma delta epsilon zeta eta theta"},  # exact dup (cross)
        {"doc_id": 11, "text": pad + " one two"},  # prefix of accepted 4 (cross)
        {"doc_id": 12, "text": "short stub " + pad + " seed words linger on and on"},  # RETRACTS 5
        {"doc_id": 13, "text": "kappa lambda  mu nu xi omicron pi rho"},  # fp dup of 6 (cross)
        # batch 3
        {"doc_id": 14, "text": "totally novel closing document here"},
    ]
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    # independent expected set: t55's stage rules verbatim in DuckDB
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", [(d["doc_id"], d["text"]) for d in docs])
    expected = {
        r[0]
        for r in con.execute("""
        WITH s0 AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len FROM docs),
        ex_keep AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM s0 GROUP BY md5(text)),
        ex_rm AS (SELECT s0.doc_id FROM s0 JOIN ex_keep
                  ON md5(s0.text) = ex_keep.h AND s0.doc_id > ex_keep.keeper),
        s1 AS (SELECT * FROM s0 WHERE doc_id NOT IN (SELECT doc_id FROM ex_rm)),
        pre_rm AS (SELECT DISTINCT a.doc_id FROM s1 a JOIN s1 b
                   ON substr(a.text, 1, 32) = substr(b.text, 1, 32)
                   AND a.len < b.len AND starts_with(b.text, a.text)),
        s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM pre_rm)),
        fp AS (SELECT doc_id, list_min(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS f
               FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
                     FROM s2) t
               WHERE len(toks) >= 3),
        fp_keep AS (SELECT f, MIN(doc_id) AS keeper FROM fp GROUP BY f),
        fp_rm AS (SELECT fp.doc_id FROM fp JOIN fp_keep
                  ON fp.f = fp_keep.f AND fp.doc_id > fp_keep.keeper)
        SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM fp_rm)
        """).fetchall()
    }
    # the crafted corpus must exercise every stage + the retraction
    assert 5 not in expected  # doc 12 subsumes doc 5 -> batch removes 5
    assert {2, 10} & expected == set()      # exact stage fires
    assert {3, 11} & expected == set()      # prefix stage fires
    assert {8, 13} & expected == set()      # fingerprint stage fires

    src = tmp_path / "in"
    src.mkdir()
    f1, f2, f3 = src / "b1.jsonl", src / "b2.jsonl", src / "b3.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in docs[:8]))
    f2.write_text("\n".join(json.dumps(r) for r in docs[8:12]))
    f3.write_text("\n".join(json.dumps(r) for r in docs[12:]))
    now = time.time()
    os.utime(f1, (now - 120, now - 120))
    os.utime(f2, (now - 60, now - 60))
    os.utime(f3, (now, now))

    accepted = str(tmp_path / "accepted")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt-waterfall")

    def _run():
        q = start_dedup_waterfall_stream(
            spark, str(src), accepted, state, ckpt, schema, max_files_per_trigger=1
        )
        q.awaitTermination(180)

    _run()
    survivors = {
        r["doc_id"] for r in read_waterfall_survivors(spark, accepted, state).collect()
    }
    assert survivors == expected

    # doc 5 was ACCEPTED in batch 1 (nothing subsumed it yet), then
    # retracted by doc 12 — visible as a tombstone, not a rewrite
    raw_accept = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert 5 in raw_accept
    tombs = {r["doc_id"] for r in spark.read.parquet(f"{state}/tombstones").collect()}
    assert 5 in tombs

    # metrics expose the per-stage story
    m = spark.read.parquet(f"{state}/metrics").collect()
    assert sum(r["n_in"] for r in m) == len(docs)
    assert sum(r["ex_removed"] for r in m) == 2   # docs 2, 10
    assert sum(r["pre_removed"] for r in m) == 2  # docs 3, 11
    assert sum(r["fp_removed"] for r in m) == 2   # docs 8, 13
    assert sum(r["n_tombstoned"] for r in m) == 1  # doc 5

    # replay: same checkpoint, no new files -> identical verdicts
    _run()
    survivors2 = {
        r["doc_id"] for r in read_waterfall_survivors(spark, accepted, state).collect()
    }
    assert survivors2 == expected


def test_streaming_dgim_window_count_parity_and_bound(spark, tmp_path):
    """DGIM store (Datar et al. 2002): per-key sliding-window count
    with O(log^2 W) state. Split delivery yields bucket state
    bit-identical to one-batch delivery (the fold is a pure function
    of the ordered stream — per-arrival expiry), estimates respect the
    25% DGIM bound against the exact window count, state stays
    logarithmic, and a checkpointed replay changes nothing."""
    import os
    import time

    from e_commerce_data_engineering_spark.streaming.pipeline import (
        _dgim_fold,
        dgim_estimate,
        read_dgim_estimates,
        start_dgim_stream,
    )

    import random

    rng = random.Random(42)
    wnd = 64
    rows = []
    for i in range(600):
        rows.append(
            {
                "event_id": i,
                "ts": f"2024-01-01T{i // 3600:02d}:{(i // 60) % 60:02d}:{i % 60:02d}",
                "event_type": "click" if i % 2 == 0 else "view",
                "value": 200.0 if rng.random() < 0.35 else 10.0,
            }
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def deliver(splits, tag):
        src = tmp_path / f"in-{tag}"
        src.mkdir()
        now = time.time()
        start = 0
        for j, end in enumerate(splits):
            f = src / f"b{j}.jsonl"
            f.write_text("\n".join(json.dumps(r) for r in rows[start:end]))
            os.utime(f, (now - 60 * (len(splits) - j), now - 60 * (len(splits) - j)))
            start = end
        state = str(tmp_path / f"state-{tag}")
        q = start_dgim_stream(
            spark, str(src), state, str(tmp_path / f"ck-{tag}"), schema,
            window=wnd, max_files_per_trigger=1,
        )
        q.awaitTermination(180)
        return state

    st_one = deliver([600], "one")
    st_split = deliver([150, 400, 600], "split")

    def snapshot(state):
        df = spark.read.option("basePath", state).parquet(state)
        mx = df.agg(F.max("batch_id").alias("m")).collect()[0]["m"]
        return sorted(
            (r["event_type"], r["size"], r["newest_pos"], r["n_seen"])
            for r in df.filter(F.col("batch_id") == mx).collect()
        )

    assert snapshot(st_one) == snapshot(st_split)  # bucket-state parity

    # estimates: DGIM bound vs the exact count in each key's last wnd
    est = {
        r["event_type"]: (r["estimate"], r["n_buckets"])
        for r in read_dgim_estimates(spark, st_split, window=wnd).collect()
    }
    import math

    for key in ("click", "view"):
        stream_k = [r for r in rows if r["event_type"] == key]
        exact = sum(1 for r in stream_k[-wnd:] if r["value"] >= 100.0)
        got, n_buckets = est[key]
        assert abs(got - exact) <= max(1, exact * 0.25), (key, got, exact)
        assert n_buckets <= 2 * (int(math.log2(wnd)) + 1)  # logarithmic state

    # python-fold differential: the distributed state equals a pure
    # local replay of the same ordered per-key stream
    for key in ("click", "view"):
        stream_k = [r for r in rows if r["event_type"] == key]
        items = [(i + 1, int(r["value"] >= 100.0)) for i, r in enumerate(stream_k)]
        local = _dgim_fold([], items, wnd)
        got_b = sorted(
            (s, p) for (k, s, p, _) in snapshot(st_split) if k == key and s > 0
        )
        assert got_b == sorted((s, p) for s, p in local), key
        assert dgim_estimate(local, len(stream_k), wnd) == est[key][0]

    # replay: no new files -> identical state
    q = start_dgim_stream(
        spark, str(tmp_path / "in-split"), st_split,
        str(tmp_path / "ck-split"), schema, window=wnd, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert snapshot(st_split) == snapshot(st_one)


def test_streaming_misra_gries_parity_and_guarantee(spark, tmp_path):
    """Misra–Gries store (Misra & Gries 1982): per-key frequent-items
    summary in O(k) state. Split delivery yields counter state
    bit-identical to one-batch delivery (the fold is a pure function
    of the ordered stream), the MG guarantee holds against exact
    counts (cnt <= true <= cnt + n/(k+1), and every item above the
    n/(k+1) bar survives), and a checkpointed replay changes nothing."""
    import os
    import random
    import time

    from e_commerce_data_engineering_spark.streaming.pipeline import (
        _mg_fold,
        read_misra_gries_summary,
        start_misra_gries_stream,
    )

    rng = random.Random(7)
    kk = 6  # counters per key
    # skewed item stream: a few heavy users + a long uniform tail
    heavy = ["u1", "u2", "u3"]
    tail = [f"t{i}" for i in range(40)]
    rows = []
    for i in range(600):
        pick = rng.choices(
            heavy + tail, weights=[30, 20, 12] + [1] * len(tail), k=1
        )[0]
        rows.append(
            {
                "event_id": i,
                "ts": f"2024-01-01T{i // 3600:02d}:{(i // 60) % 60:02d}:{i % 60:02d}",
                "event_type": "click" if i % 2 == 0 else "view",
                # every 9th arrival is an anonymous (null) user: the fold
                # must count these under the sentinel, not crash on
                # None/NaN ordering inside the pandas fold
                "user_id": None if i % 9 == 0 else pick,
            }
        )
    null_sentinel = "\u0000null"
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.StringType()),
        ]
    )

    def deliver(splits, tag):
        src = tmp_path / f"in-{tag}"
        src.mkdir()
        now = time.time()
        start = 0
        for j, end in enumerate(splits):
            f = src / f"b{j}.jsonl"
            f.write_text("\n".join(json.dumps(r) for r in rows[start:end]))
            os.utime(f, (now - 60 * (len(splits) - j), now - 60 * (len(splits) - j)))
            start = end
        state = str(tmp_path / f"state-{tag}")
        q = start_misra_gries_stream(
            spark, str(src), state, str(tmp_path / f"ck-{tag}"), schema,
            k=kk, max_files_per_trigger=1,
        )
        q.awaitTermination(180)
        return state

    st_one = deliver([600], "one")
    st_split = deliver([150, 400, 600], "split")

    def snapshot(state):
        df = spark.read.option("basePath", state).parquet(state)
        mx = df.agg(F.max("batch_id").alias("m")).collect()[0]["m"]
        return sorted(
            (r["event_type"], r["item"], r["cnt"], r["n_seen"])
            for r in df.filter(F.col("batch_id") == mx).collect()
        )

    assert snapshot(st_one) == snapshot(st_split)  # counter-state parity

    # guarantee + differential vs a pure local replay per key; the
    # reader derives k from the persisted state (no k argument) — a
    # caller can no longer mis-report err_bound by passing a stale k
    summ = {}
    for r in read_misra_gries_summary(spark, st_split).collect():
        summ.setdefault(r["event_type"], {})[r["item"]] = (
            r["mg_count"], r["n_seen"], r["err_bound"]
        )
    for key in ("click", "view"):
        stream_k = [
            r["user_id"] if r["user_id"] is not None else null_sentinel
            for r in rows
            if r["event_type"] == key
        ]
        n = len(stream_k)
        exact = {}
        for u in stream_k:
            exact[u] = exact.get(u, 0) + 1
        got = summ.get(key, {})
        assert len(got) <= kk  # O(k) state
        bar = n // (kk + 1)
        for item, (cnt, n_seen, err) in got.items():
            assert n_seen == n
            assert err == bar
            assert cnt <= exact.get(item, 0) <= cnt + bar, (key, item)
        for u, c in exact.items():
            if c > bar:  # every true heavy hitter must survive
                assert u in got, (key, u, c, bar)
        # distributed state == pure local fold of the same ordered stream
        local = {it: c for it, c in _mg_fold([], stream_k, kk)}
        assert {it: c[0] for it, c in got.items()} == local, key

    # replay: no new files -> identical state
    q = start_misra_gries_stream(
        spark, str(tmp_path / "in-split"), st_split,
        str(tmp_path / "ck-split"), schema, k=kk, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert snapshot(st_split) == snapshot(st_one)


def test_sample_quantile_stream_matches_batch(spark, tmp_path):
    """Batch/stream parity for the bottom-k sample-quantile store:
    orders streamed in micro-batches, per-batch bottom-k partials
    folded read-side, must equal the sample (and its quantile fences)
    computed over the full table in one pass — the bottom-k merge is
    exact, like KMV's, so this is equality, not tolerance. k is read
    from the state rows, never passed by the reader. Replay with the
    same checkpoint changes nothing."""
    import json as _json

    from e_commerce_data_engineering_spark.operators.sketch import (
        bottomk_quantiles,
        bottomk_sample,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_sample_quantiles,
        read_sample_state,
        start_sample_quantile_stream,
    )

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderkey").alias("okey"),
        F.floor(F.col("o_totalprice")).cast("bigint").alias("dollars"),
    )
    rows = [(r["pri"], r["okey"], r["dollars"]) for r in orders.collect()]
    src = tmp_path / "sq-src"
    src.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third :] if i == 2 else rows[i * third : (i + 1) * third]
        (src / f"part{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"pri": p, "okey": k, "dollars": d})
                for p, k, d in chunk
            )
        )

    schema = T.StructType(
        [
            T.StructField("pri", T.StringType()),
            T.StructField("okey", T.LongType()),
            T.StructField("dollars", T.LongType()),
        ]
    )
    state = str(tmp_path / "sq-state")
    ckpt = str(tmp_path / "sq-ckpt")

    def _run():
        q = start_sample_quantile_stream(
            spark, str(src), state, ckpt, schema, "pri", "okey", "dollars", k=16
        )
        q.awaitTermination(120)

    _run()
    got_sample = {
        (r["grp"], r["key"]) for r in read_sample_state(spark, state).collect()
    }
    got_q = {
        r["grp"]: (r["n_sample"], r["k"], r["p50_est"], r["p90_est"], r["p99_est"])
        for r in read_sample_quantiles(spark, state).collect()
    }

    batch_sample = bottomk_sample(orders, "pri", "okey", "dollars", 16)
    want_sample = {(r["grp"], r["key"]) for r in batch_sample.collect()}
    want_q = {
        r["grp"]: (r["n_sample"], r["k"], r["p50_est"], r["p90_est"], r["p99_est"])
        for r in bottomk_quantiles(batch_sample).collect()
    }
    assert got_sample == want_sample
    assert got_q == want_q and len(got_q) == 5
    assert all(v[0] == 16 and v[1] == 16 for v in got_q.values())

    _run()  # replay drained checkpoint -> no-op
    got_q2 = {
        r["grp"]: (r["n_sample"], r["k"], r["p50_est"], r["p90_est"], r["p99_est"])
        for r in read_sample_quantiles(spark, state).collect()
    }
    assert got_q2 == got_q


def test_bottomk_sample_small_group_keeps_all(spark):
    """A group with fewer than k rows keeps EVERY row (the sample IS
    the population, like KMV's n < k exhaustive regime) and its
    quantile fences reduce to the exact group quantiles."""
    from e_commerce_data_engineering_spark.operators.sketch import (
        bottomk_quantiles,
        bottomk_sample,
    )

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 20), ("b", 4, 7)],
        "grp string, k_id long, v long",
    )
    s = bottomk_sample(df, "grp", "k_id", "v", k=16)
    assert s.count() == 4
    q = {r["grp"]: (r["n_sample"], r["p50_est"], r["p99_est"])
         for r in bottomk_quantiles(s).collect()}
    assert q["a"] == (3, 20, 30)   # exact type-1 quantiles of {10,20,30}
    assert q["b"] == (1, 7, 7)


def test_priority_sample_stream_matches_batch(spark, tmp_path):
    """Batch/stream parity for the priority-sample store (#6): line
    items streamed in micro-batches, per-batch top-(k+1) partials
    folded read-side, must produce the IDENTICAL tau-threshold
    subset-sum estimate as the one-pass batch sample over the full
    table — the top-(k+1) merge is exact, so this is equality.
    Replay with the same checkpoint changes nothing."""
    import json as _json

    from e_commerce_data_engineering_spark.operators.sketch import (
        priority_estimate,
        priority_sample,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_priority_estimates,
        start_priority_sample_stream,
    )

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("key"),
        (F.floor(F.col("l_extendedprice")).cast("bigint") + 1).alias("w"),
    )
    rows = [(r["flag"], r["key"], r["w"]) for r in li.collect()]
    src = tmp_path / "ps-src"
    src.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third :] if i == 2 else rows[i * third : (i + 1) * third]
        (src / f"part{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"flag": f, "key": k, "w": w}) for f, k, w in chunk
            )
        )

    schema = T.StructType(
        [
            T.StructField("flag", T.StringType()),
            T.StructField("key", T.LongType()),
            T.StructField("w", T.LongType()),
        ]
    )
    state = str(tmp_path / "ps-state")
    ckpt = str(tmp_path / "ps-ckpt")

    def _run():
        q = start_priority_sample_stream(
            spark, str(src), state, ckpt, schema, "flag", "key", "w", k=16
        )
        q.awaitTermination(120)

    _run()
    got = {
        r["grp"]: (r["n_sample"], r["k"], round(r["est_total"], 3))
        for r in read_priority_estimates(spark, state).collect()
    }
    want = {
        r["grp"]: (r["n_sample"], r["k"], round(r["est_total"], 3))
        for r in priority_estimate(
            priority_sample(li, "flag", "key", "w", 16)
        ).collect()
    }
    assert got == want and len(got) == 3
    assert all(v[0] == 16 and v[1] == 16 for v in got.values())

    # order-of-magnitude sanity only: k=16 priority sampling is high
    # variance, and this corpus's colliding (orderkey, linenumber) keys
    # share their MINSTD uniform, which correlates same-key priorities
    # (the DLT variance bound assumes independent uniforms) — x16 runs
    # k=64 for its audited readout
    exact = {
        r["flag"]: r["tot"]
        for r in li.groupBy("flag").agg(F.sum("w").alias("tot")).collect()
    }
    for g, (_, _, est) in got.items():
        assert exact[g] / 5 < est < exact[g] * 5, (g, est, exact[g])

    _run()  # replay drained checkpoint -> no-op
    got2 = {
        r["grp"]: (r["n_sample"], r["k"], round(r["est_total"], 3))
        for r in read_priority_estimates(spark, state).collect()
    }
    assert got2 == got


def test_stream_stream_left_outer_join_emits_null_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream: the matched purchase emits joined; the
    unmatched one emits NULL-extended only once the watermark (advanced
    by later sentinel events on both streams, processed in a separate
    micro-batch via maxFilesPerTrigger=1) proves no attributing click
    can still arrive."""
    import time as _time

    from e_commerce_data_engineering_spark.streaming.pipeline import (
        stream_stream_left_outer_join,
    )

    csrc = tmp_path / "lo-clicks"
    psrc = tmp_path / "lo-purch"
    csrc.mkdir(), psrc.mkdir()
    spark.createDataFrame(
        [_event(0, user=1, etype="click", value=1.0)], EVENT_SCHEMA
    ).write.parquet(str(csrc / "a"))
    spark.createDataFrame(
        [
            _event(20, user=1, etype="purchase", value=9.0),
            _event(50, user=2, etype="purchase", value=7.0),
        ],
        EVENT_SCHEMA,
    ).write.parquet(str(psrc / "a"))
    _time.sleep(1.1)  # sentinel files must land in a LATER trigger
    spark.createDataFrame(
        [_event(300, user=900, etype="click", value=0.0)], EVENT_SCHEMA
    ).write.parquet(str(csrc / "b"))
    spark.createDataFrame(
        [_event(300, user=901, etype="purchase", value=0.0)], EVENT_SCHEMA
    ).write.parquet(str(psrc / "b"))

    cs = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(csrc / "*"))
    )
    ps = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(psrc / "*"))
    )
    q = (
        stream_stream_left_outer_join(ps, cs, within="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("lo_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (
            r["user_id"],
            r["purchase_ts"].minute,
            r["click_ts"].minute if r["click_ts"] is not None else None,
        )
        for r in spark.sql("SELECT * FROM lo_out WHERE user_id < 900").collect()
    }
    # u1@20 attributed to click@0; u2@50 proven unattributable (the
    # sentinel events pushed min-watermark to 240 > 50+30)
    assert rows == {(1, 20, 0), (2, 50, None)}, rows


def test_cms_pair_stream_matches_batch_and_decision(spark, tmp_path):
    """Batch/stream parity for the CMS pair store (#7): events streamed
    in micro-batches, per-side per-batch grid partials folded read-side
    by (depth, bucket) addition, must EQUAL (exact int64) the batch
    cms_build_portable grid over each side's full row set; the derived
    x17 inner-product join-size estimate must equal the batch estimate;
    and the x18 strategy pick must FLIP with the threshold (broadcast
    when the build side fits, shuffle when it does not) — the
    optimizer-facing readout computed from stream state alone. Replay
    with the same checkpoint changes nothing."""
    import json as _json

    from e_commerce_data_engineering_spark.operators.sketch import (
        cms_build_portable,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_cms_pair_state,
        read_join_size_estimate,
        start_cms_pair_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select("user_id", "event_type")
    rows = [(r["user_id"], r["event_type"]) for r in ev.collect()]
    src = tmp_path / "cms-src"
    src.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third :] if i == 2 else rows[i * third : (i + 1) * third]
        (src / f"part{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"user_id": u, "event_type": t}) for u, t in chunk
            )
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    state = str(tmp_path / "cms-state")
    ckpt = str(tmp_path / "cms-ckpt")
    depth, width = 3, 1024

    def _run():
        q = start_cms_pair_stream(
            spark, str(src), state, ckpt, schema, depth=depth, width=width
        )
        q.awaitTermination(120)

    _run()

    # grid parity per side, exact int64 equality
    for etype, label in (("view", "a"), ("purchase", "b")):
        batch_side = ev.filter(F.col("event_type") == etype).select(
            F.col("user_id").cast("string").alias("k")
        )
        want = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in cms_build_portable(batch_side, "k", depth, width).collect()
        }
        got = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in read_cms_pair_state(spark, state, label).collect()
        }
        assert got == want, f"side {label} grid mismatch"

    # estimate parity + exact side totals off the grid
    est_row = read_join_size_estimate(spark, state).collect()[0]
    n_a = ev.filter(F.col("event_type") == "view").count()
    n_b = ev.filter(F.col("event_type") == "purchase").count()
    assert est_row["n_a"] == n_a and est_row["n_b"] == n_b
    exact_join = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("ca"))
        .join(
            ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cb")),
            "user_id",
        )
        .agg(F.sum(F.col("ca") * F.col("cb")))
        .collect()[0][0]
    )
    # CMS inner product over-estimates, never under
    assert est_row["est_join_size"] >= exact_join

    # the decision flips exactly with the threshold
    build_rows = min(n_a, n_b)
    tight = read_join_size_estimate(
        spark, state, row_bytes=128, threshold_bytes=build_rows * 128
    ).collect()[0]
    assert tight["strategy"] == "broadcast"
    over = read_join_size_estimate(
        spark, state, row_bytes=128, threshold_bytes=build_rows * 128 - 1
    ).collect()[0]
    assert over["strategy"] == "shuffle"

    # replay: same checkpoint, nothing new to drain -> state unchanged
    before = sorted(
        (r["depth"], r["bucket"], r["cnt"])
        for r in read_cms_pair_state(spark, state, "a").collect()
    )
    _run()
    after = sorted(
        (r["depth"], r["bucket"], r["cnt"])
        for r in read_cms_pair_state(spark, state, "a").collect()
    )
    assert before == after


def test_cms_pair_state_degrades_when_side_never_drained(spark, tmp_path):
    """ADVICE r10: a side that never drained any rows has NO partials
    on disk — the state read must degrade to an empty grid (zero rows)
    instead of raising AnalysisException, and the join-size estimate
    over one-or-both missing sides must read 0, not NULL."""
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_cms_pair_state,
        read_join_size_estimate,
    )

    state = str(tmp_path / "cms-state-empty")
    # both sides missing entirely
    assert read_cms_pair_state(spark, state, "a").count() == 0
    est = read_join_size_estimate(spark, state).collect()[0]
    assert est["n_a"] == 0 and est["n_b"] == 0
    assert est["est_join_size"] == 0

    # one side present, the other never drained: estimate is 0 (the
    # estimator's dot product over a missing grid), not NULL
    from e_commerce_data_engineering_spark.operators.sketch import (
        cms_build_portable,
    )

    side_a = spark.createDataFrame([("u1",), ("u2",)], ["k"])
    cms_build_portable(side_a, "k", 4, 32).write.mode("overwrite").parquet(
        f"{state}/side=a/batch_id=0"
    )
    est2 = read_join_size_estimate(spark, state).collect()[0]
    assert est2["n_a"] == 2 and est2["n_b"] == 0
    assert est2["est_join_size"] == 0
    assert est2["build_side"] == "b"


def test_stream_stream_full_outer_join_emits_nulls_both_sides(spark, tmp_path):
    """FULL OUTER stream-stream: the matched pair emits joined; the
    unmatched purchase null-extends on the click side AND the
    unmatched click null-extends on the purchase side — each only
    once the sentinel-advanced min-watermark proves its partner can
    no longer arrive (the two null populations are unattributable
    conversions and never-converted impressions respectively)."""
    import time as _time

    from e_commerce_data_engineering_spark.streaming.pipeline import (
        stream_stream_full_outer_join,
    )

    csrc = tmp_path / "fo-clicks"
    psrc = tmp_path / "fo-purch"
    csrc.mkdir(), psrc.mkdir()
    spark.createDataFrame(
        [
            _event(0, user=1, etype="click", value=1.0),
            _event(10, user=3, etype="click", value=2.0),  # never converts
        ],
        EVENT_SCHEMA,
    ).write.parquet(str(csrc / "a"))
    spark.createDataFrame(
        [
            _event(20, user=1, etype="purchase", value=9.0),
            _event(50, user=2, etype="purchase", value=7.0),  # no click
        ],
        EVENT_SCHEMA,
    ).write.parquet(str(psrc / "a"))
    _time.sleep(1.1)  # sentinels land in a LATER trigger
    spark.createDataFrame(
        [_event(300, user=900, etype="click", value=0.0)], EVENT_SCHEMA
    ).write.parquet(str(csrc / "b"))
    spark.createDataFrame(
        [_event(300, user=901, etype="purchase", value=0.0)], EVENT_SCHEMA
    ).write.parquet(str(psrc / "b"))

    cs = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(csrc / "*"))
    )
    ps = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(psrc / "*"))
    )
    q = (
        stream_stream_full_outer_join(ps, cs, within="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("fo_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (
            r["user_id"],
            r["purchase_ts"].minute if r["purchase_ts"] is not None else None,
            r["click_ts"].minute if r["click_ts"] is not None else None,
        )
        for r in spark.sql("SELECT * FROM fo_out WHERE user_id < 900").collect()
    }
    # u1: attributed pair; u2: conversion with no impression (click
    # side null); u3: impression that never converted (purchase side
    # null) — all three emitted exactly once
    assert rows == {(1, 20, 0), (2, 50, None), (3, None, 10)}, rows


def test_snapshot_sink_stream_exactly_once_versions(spark, tmp_path):
    """Streaming -> snapshot table: each drained micro-batch publishes
    one immutable version (a time-travel point); a reader pinned at an
    earlier version is isolated from later epochs; rerunning with the
    SAME checkpoint drains nothing; and a full checkpoint WIPE (the
    replay worst case) is absorbed by the epoch ledger — no duplicate
    versions, table state unchanged."""
    import json as _json

    from e_commerce_data_engineering_spark.operators.layout import (
        snapshot_history,
        snapshot_read,
    )
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        start_snapshot_sink_stream,
    )

    src = tmp_path / "snap-src"
    src.mkdir()
    (src / "f0.jsonl").write_text(
        "\n".join(
            _json.dumps(d)
            for d in [
                {"k": 1, "v": "a", "ver": 1},
                {"k": 2, "v": "b", "ver": 1},
            ]
        )
    )
    (src / "f1.jsonl").write_text(
        "\n".join(
            _json.dumps(d)
            for d in [
                {"k": 2, "v": "b9", "ver": 9},
                {"k": 3, "v": "c", "ver": 2},
            ]
        )
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    table = str(tmp_path / "snap-table")
    ckpt = str(tmp_path / "snap-ckpt")

    def _run():
        q = start_snapshot_sink_stream(
            spark, str(src), schema, table, ckpt, "k", "ver",
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    _run()
    hist = sorted(r["version"] for r in snapshot_history(spark, table).collect())
    assert hist == [1, 2]  # one version per micro-batch
    latest = {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert latest == {1: "a", 2: "b9", 3: "c"}
    # time travel to the first epoch's state (file order = f0 first)
    v1 = {r["k"]: r["v"] for r in snapshot_read(spark, table, version=1).collect()}
    assert v1 == {1: "a", 2: "b"}

    # same checkpoint, nothing new: no new versions
    _run()
    assert sorted(
        r["version"] for r in snapshot_history(spark, table).collect()
    ) == [1, 2]

    # checkpoint WIPE: epochs replay from 0 — the ledger absorbs them
    import shutil

    shutil.rmtree(ckpt)
    _run()
    assert sorted(
        r["version"] for r in snapshot_history(spark, table).collect()
    ) == [1, 2]
    assert {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()} == {
        1: "a",
        2: "b9",
        3: "c",
    }


def test_steered_join_stream_picks_strategy_from_state(spark, tmp_path):
    """VERDICT r11 #6: the persisted CMS pair state steers the
    stream-static join's physical strategy inside foreachBatch. The
    static side's grid is written once (by its own ingest); the
    streaming probe then plans broadcast when the grid-recovered build
    count fits the threshold and shuffle when it does not — same rows
    either way (equal to the batch join), strategy stamped on every
    output row, replay idempotent via per-epoch overwrite."""
    import json as _json

    from e_commerce_data_engineering_spark.operators.sketch import (
        cms_build_portable,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        start_steered_join_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select("user_id", "event_type")
    rows = [(r["user_id"], r["event_type"]) for r in ev.collect()]
    src = tmp_path / "steer-src"
    src.mkdir()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        (src / f"part{i}.jsonl").write_text(
            "\n".join(_json.dumps({"user_id": u, "event_type": t}) for u, t in chunk)
        )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    # the static build side + its CMS grid, written by "its own ingest"
    static = ev.select("user_id").distinct().select(
        "user_id", (F.col("user_id") % 7).alias("segment")
    )
    n_build = static.count()
    state = str(tmp_path / "steer-state")
    cms_build_portable(
        static.select(F.col("user_id").cast("string").alias("k")), "k", 3, 1024
    ).write.parquet(f"{state}/side=b/batch_id=0")

    def run(tag: str, threshold: int) -> "DataFrame":
        out = str(tmp_path / f"steer-out-{tag}")
        q = start_steered_join_stream(
            spark,
            str(src),
            static,
            state,
            "b",
            out,
            str(tmp_path / f"steer-ckpt-{tag}"),
            schema,
            "user_id",
            row_bytes=128,
            threshold_bytes=threshold,
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got_b = run("bcast", n_build * 128)
    got_s = run("shuf", n_build * 128 - 1)

    assert got_b.select("join_strategy").distinct().collect()[0][0] == "broadcast"
    assert got_s.select("join_strategy").distinct().collect()[0][0] == "shuffle"

    want = sorted(
        map(tuple, ev.join(static, "user_id").select("user_id", "segment").collect())
    )
    for got in (got_b, got_s):
        assert sorted(map(tuple, got.select("user_id", "segment").collect())) == want

def test_snapshot_sink_stream_survives_compaction_and_vacuum(spark, tmp_path):
    """Maintenance jobs interleave with streaming ingestion: a
    snapshot_compact rewrites the seeded multi-file version WITHOUT
    changing state, the stream then commits exactly-once ON TOP of the
    compacted version (the compactor's version claims the next number,
    so epoch-ledger dedup and the keep-latest merge are unaffected),
    and a vacuum that prunes pre-compaction history never disturbs the
    latest reader."""
    import json as _json

    from e_commerce_data_engineering_spark.operators.layout import (
        snapshot_commit,
        snapshot_compact,
        snapshot_history,
        snapshot_read,
        snapshot_vacuum,
    )
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        start_snapshot_sink_stream,
    )

    table = str(tmp_path / "cs-table")
    ckpt = str(tmp_path / "cs-ckpt")

    # seed a deliberately fragmented v1 (the state a long-running
    # ingest accumulates), then compact it to v2
    seed = spark.range(200).selectExpr(
        "id AS k", "concat('a', id) AS v", "CAST(1 AS LONG) AS ver"
    )
    assert snapshot_commit(spark, seed.repartition(8), table) == 1
    v2 = snapshot_compact(spark, table, target_file_bytes=1 << 30)
    assert v2 == 2
    files = {r["version"]: r["n_files"] for r in snapshot_history(spark, table).collect()}
    assert files == {1: 8, 2: 1}

    # stream an update batch: the epoch merges ON TOP of the compacted
    # version and claims version 3
    src = tmp_path / "cs-src"
    src.mkdir()
    (src / "f1.jsonl").write_text(
        "\n".join(
            _json.dumps({"k": i, "v": f"b{i}", "ver": 2}) for i in range(100)
        )
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("ver", T.LongType()),
        ]
    )

    def _run():
        q = start_snapshot_sink_stream(
            spark, str(src), schema, table, ckpt, "k", "ver",
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    _run()
    hist = sorted(r["version"] for r in snapshot_history(spark, table).collect())
    assert hist == [1, 2, 3]
    latest = {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert len(latest) == 200
    assert latest[0] == "b0" and latest[150] == "a150"

    # replay worst case AFTER compaction: wipe the checkpoint — the
    # epoch ledger absorbs the replayed epoch, state unchanged
    import shutil

    shutil.rmtree(ckpt)
    _run()
    assert sorted(
        r["version"] for r in snapshot_history(spark, table).collect()
    ) == [1, 2, 3]

    # vacuum away pre-compaction history; latest state is untouched and
    # the pruned versions are really gone
    victims = snapshot_vacuum(spark, table, keep_last=1)
    assert victims == [1, 2]
    assert {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()} == latest
    import pytest as _pytest

    with _pytest.raises(Exception):
        snapshot_read(spark, table, version=1)


def test_snapshot_sink_auto_compacts_past_threshold(spark, tmp_path):
    """auto_compact_files: an epoch whose merge output fragments past
    the threshold is followed, inside the same epoch handler, by a
    compacted rewrite version — state-identical, ledger-deduped on
    replay."""
    import json as _json

    from e_commerce_data_engineering_spark.operators.layout import (
        snapshot_history,
        snapshot_read,
    )
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        start_snapshot_sink_stream,
    )

    src = tmp_path / "ac-src"
    src.mkdir()
    # big enough that the merge's shuffle writes several files
    (src / "f0.jsonl").write_text(
        "\n".join(
            _json.dumps({"k": i, "v": f"a{i}", "ver": 1}) for i in range(5000)
        )
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    table = str(tmp_path / "ac-table")
    ckpt = str(tmp_path / "ac-ckpt")
    q = start_snapshot_sink_stream(
        spark, str(src), schema, table, ckpt, "k", "ver",
        max_files_per_trigger=1, auto_compact_files=1,
    )
    q.awaitTermination(120)

    hist = {r["version"]: r["n_files"] for r in snapshot_history(spark, table).collect()}
    if max(hist.values()) > 1:
        # merge fragmented -> the handler must have appended a
        # compacted version whose file count meets the threshold
        latest_v = max(hist)
        assert hist[latest_v] <= 1, hist
        assert len(hist) == 2, hist
        a = sorted(map(tuple, snapshot_read(spark, table, min(hist)).collect()))
        b = sorted(map(tuple, snapshot_read(spark, table, latest_v).collect()))
        assert a == b
    assert snapshot_read(spark, table).count() == 5000
