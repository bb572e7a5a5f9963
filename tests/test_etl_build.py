"""The order ETL's per-epoch driver cost: validate and enrich reuse
Columns built once per JVM, and the rollup and daily-totals streams fold
each batch into their snapshot with one aggregation."""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest
from py4j.java_gateway import JavaMember

from e_commerce_data_engineering_spark.functions import enrich, validate
from e_commerce_data_engineering_spark.pipeline import process_raw, read_raw_jsonl, run_batch
from e_commerce_data_engineering_spark.sources.generator import generate_orders
from e_commerce_data_engineering_spark.streaming import epochs
from e_commerce_data_engineering_spark.streaming.pipeline import start_processing_stream

from .test_stream_epochs import SNAPSHOT_STREAMS, _events, _land
from .test_streaming import _read_processed, _write_raw


def _land_lines(path, lines, age_s=0):
    """Write one JSONL file, its mtime ``age_s`` seconds in the past."""
    path.write_text("\n".join(lines) + "\n")
    t = time.time() - age_s
    os.utime(path, (t, t))


def _drain_processing(spark, raw_dir, out_dir, ckpt):
    q = start_processing_stream(spark, raw_dir, out_dir, ckpt, available_now=True)
    q.awaitTermination(180)
    assert q.exception() is None


def test_second_etl_build_makes_few_jvm_calls(spark, tmp_path, monkeypatch):
    """Building validate + enrich again in the same JVM reuses its
    Columns: the whole ``process_raw(read_raw_jsonl(...))`` build stays
    within 100 py4j calls (a rebuild of the Columns takes ~1,270)."""
    raw = _write_raw(spark, tmp_path, n=20, seed=3)
    process_raw(read_raw_jsonl(spark, raw))

    calls = []
    call = JavaMember.__call__

    def counted(self, *args):
        calls.append(self.name)
        return call(self, *args)

    monkeypatch.setattr(JavaMember, "__call__", counted)
    processed, invalid, corrupt = process_raw(read_raw_jsonl(spark, raw))
    monkeypatch.undo()
    assert len(calls) <= 100, len(calls)
    assert (processed.count(), invalid.count(), corrupt.count()) == (20, 1, 1)


def test_epochs_drained_apart_get_their_own_processed_at(spark, tmp_path):
    """``processed_at`` is ``current_timestamp()``, fixed per query: a
    reused Column still stamps each epoch with its own time."""
    lines = generate_orders(spark, 20, seed=4).toJSON().collect()
    raw = tmp_path / "raw"
    raw.mkdir()
    out, ckpt = str(tmp_path / "processed"), str(tmp_path / "ckpt")
    _land_lines(raw / "a.jsonl", lines[:10], age_s=60)
    _drain_processing(spark, str(raw), out, ckpt)
    first = {r["processed_at"] for r in _read_processed(spark, out)}
    time.sleep(1.1)
    _land_lines(raw / "b.jsonl", lines[10:])
    _drain_processing(spark, str(raw), out, ckpt)
    second = {r["processed_at"] for r in _read_processed(spark, out)} - first

    assert len(first) == 1 and len(second) == 1
    assert min(second) > max(first)


def test_run_batch_and_stream_drain_write_the_same_rows(spark, tmp_path):
    """The batch run and one AvailableNow drain of the same files write
    identical processed rows, ``processed_at`` aside."""
    raw = _write_raw(spark, tmp_path, n=40, seed=6)
    batch_out, stream_out = str(tmp_path / "batch"), str(tmp_path / "stream")
    res = run_batch(spark, raw, batch_out)
    _drain_processing(spark, raw, stream_out, str(tmp_path / "ckpt"))

    def rows(out_dir):
        got = _read_processed(spark, out_dir)
        for r in got:
            r.pop("processed_at")
        return sorted(got, key=lambda r: r["order_id"])

    batch_rows = rows(batch_out)
    assert res.total_processed == len(batch_rows) == 40
    assert rows(stream_out) == batch_rows


@pytest.mark.parametrize(
    "name,store_schema",
    [
        ("daily_totals", "struct<event_type:string,day:date,day_total:decimal(12,2)>"),
        ("rollup", "struct<event_type:string,n:bigint,total:double>"),
    ],
)
def test_fold_aggregates_once_per_epoch(spark, tmp_path, monkeypatch, name, store_schema):
    """Each epoch's snapshot write plans one hash exchange: the batch's
    rows and the previous snapshot are grouped together, not the batch
    first and then the union again. The stored schema is unchanged."""
    rows = _events(20)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    start, store, check = SNAPSHOT_STREAMS[name](spark, state, ckpt, rows, tmp_path)
    _land(tmp_path / "in", [rows[:10], rows[10:]])
    plans = []
    write = epochs.write_epoch

    def recorded(df, store_dir, epoch_id):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        write(df, store_dir, epoch_id)

    monkeypatch.setattr(epochs, "write_epoch", recorded)
    start(str(tmp_path / "in")).awaitTermination(180)
    monkeypatch.undo()

    assert [p.count("Exchange hashpartitioning") for p in plans] == [1, 1]
    assert spark.read.parquet(f"{store}/batch_id=1").schema.simpleString() == store_schema
    check()


def test_threads_racing_to_build_the_columns_agree(spark):
    """Concurrent ``foreachBatch`` threads may each build the Columns
    into an empty memo; every thread still gets the right projection."""

    def build(raw):
        valid, invalid = validate.split_valid(raw)
        return enrich.enrich(valid), invalid

    raw = generate_orders(spark, 6, seed=8)
    want_df, _ = build(raw)
    want = sorted(map(str, want_df.drop("processed_at").collect()))
    enrich._projection.cache_clear()
    validate._split_columns.cache_clear()
    built, errors = [], []

    def worker():
        try:
            built.append(build(raw))
        except Exception as e:  # reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert len(built) == 8
    assert all(df.columns == want_df.columns for df, _ in built)
    for df, invalid in (built[0], built[-1], build(raw)):
        assert sorted(map(str, df.drop("processed_at").collect())) == want
        assert invalid.count() == 0
