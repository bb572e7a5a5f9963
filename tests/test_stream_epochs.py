"""The epoch-store layout (``streaming/epochs``): a replayed epoch must
leave every store as it was, snapshot stores must not grow with the
stream, finding a snapshot must read only committed ones and run no
Spark job, and the driver heap default must fit the machine."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time

import pytest
from pyspark.sql import types as T

from e_commerce_data_engineering_spark.streaming import dedup_stream

DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

# (stream, store subdirectories under state_dir, extra kwargs)
DEDUP_STREAMS = {
    "near_dup": (dedup_stream.start_dedup_stream, [""], {}),
    "exact": (dedup_stream.start_exact_dedup_stream, ["hashes", "bloom", "metrics"], {}),
    "segment": (dedup_stream.start_segment_dedup_stream, ["seghashes", "metrics"], {"seg_w": 3}),
}


def _land(src, batches):
    """One JSONL file per batch, mtimes in arrival order."""
    src.mkdir(exist_ok=True)
    now = time.time()
    for j, rows in enumerate(batches):
        f = src / f"b{j}.jsonl"
        f.write_text("\n".join(json.dumps(r) for r in rows))
        t = now - 60 * (len(batches) - j)
        os.utime(f, (t, t))


def _rows(spark, store_dir):
    df = spark.read.option("basePath", store_dir).parquet(store_dir)
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", sorted(DEDUP_STREAMS))
def test_replayed_epoch_keeps_dedup_verdicts(spark, tmp_path, name):
    """Drain two 2-doc files, delete the last commit so the restarted
    query replays epoch 1 over its own crashed output, and require the
    accepted rows and every state store to come out unchanged."""
    start, stores, kwargs = DEDUP_STREAMS[name]
    _land(
        tmp_path / "in",
        [
            [
                {"doc_id": 1, "text": "spark line column order small sort value scan"},
                {"doc_id": 2, "text": "totally different words about streams and states"},
            ],
            [
                {"doc_id": 3, "text": "brand new content unseen so far in this corpus"},
                {"doc_id": 4, "text": "another fresh document with its own vocabulary"},
            ],
        ],
    )
    accepted, state, ckpt = (str(tmp_path / d) for d in ("accepted", "state", "ckpt"))
    dirs = [accepted] + [os.path.join(state, s) for s in stores]

    def _run():
        start(
            spark, str(tmp_path / "in"), accepted, state, ckpt, DOC_SCHEMA,
            max_files_per_trigger=1, **kwargs,
        ).awaitTermination(180)

    _run()
    before = [_rows(spark, d) for d in dirs]
    assert sorted(r["doc_id"] for r in spark.read.parquet(accepted).collect()) == [1, 2, 3, 4]

    for f in glob.glob(f"{ckpt}/commits/1") + glob.glob(f"{ckpt}/commits/.1.crc"):
        os.remove(f)
    _run()
    assert os.path.exists(f"{ckpt}/commits/1")  # epoch 1 really ran again
    assert [_rows(spark, d) for d in dirs] == before


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _events(n):
    base = dt.datetime(2026, 5, 1, 8, 0, 0)
    types = ["view", "click", "purchase"]
    return [
        {
            "event_id": i,
            "ts": (base + dt.timedelta(hours=i * 3)).isoformat(),
            "user_id": i % 11,
            "event_type": types[(i * 5 + 1) % 3],
            "value": round(2.11 * (i % 17) + 0.4, 2),
        }
        for i in range(n)
    ]


def _events_frame(spark, rows):
    return spark.createDataFrame(
        [
            (r["event_id"], dt.datetime.fromisoformat(r["ts"]), r["user_id"],
             r["event_type"], r["value"])
            for r in rows
        ],
        EVENT_SCHEMA,
    )


def _daily_totals(spark, state, ckpt, rows, tmp_path):
    """(stream start, store dir, final check) for the daily-totals store:
    ``read_cusum`` equals the batch e23 twin over all rows."""
    from e_commerce_data_engineering_spark.plans.events import e23_cusum_changepoint
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_cusum,
        start_daily_totals_stream,
    )

    sfdir = tmp_path / "sf"
    sfdir.mkdir()
    _events_frame(spark, rows).write.parquet(str(sfdir / "events.parquet"))

    def _cusum(frame):
        return {
            (r["event_type"], r["day"]): (r["day_value"], r["cusum"], r["is_changepoint"])
            for r in frame.collect()
        }

    def check():
        assert _cusum(read_cusum(spark, state)) == _cusum(
            e23_cusum_changepoint(spark, str(sfdir))
        )

    return (
        lambda src: start_daily_totals_stream(
            spark, src, state, ckpt, EVENT_SCHEMA, max_files_per_trigger=1
        ),
        f"{state}/daily",
        check,
    )


def _rollup(spark, state, ckpt, rows, tmp_path):
    """The rollup store: ``read_rollup`` equals the hand-summed (n, total)
    per event type."""
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_rollup,
        start_rollup_stream,
    )

    want = {}
    for r in rows:
        n, total = want.get(r["event_type"], (0, 0.0))
        want[r["event_type"]] = (n + 1, total + r["value"])

    def check():
        got = {
            r["event_type"]: (r["n"], r["total"])
            for r in read_rollup(spark, state, ["event_type"]).collect()
        }
        assert got.keys() == want.keys()
        for k, (n, total) in want.items():
            assert got[k][0] == n and got[k][1] == pytest.approx(total, abs=1e-9)

    return (
        lambda src: start_rollup_stream(
            spark, src, state, ckpt, EVENT_SCHEMA, ["event_type"], "value",
            max_files_per_trigger=1,
        ),
        state,
        check,
    )


def _histogram(spark, state, ckpt, rows, tmp_path):
    """The histogram store: ``read_histogram_quantiles`` equals the batch
    twin (the same bins and quantile pick over all rows at once)."""
    from pyspark.sql import functions as F

    from e_commerce_data_engineering_spark.operators.sketch import (
        histogram_bins,
        quantiles_from_histogram,
    )
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_histogram_quantiles,
        start_histogram_stream,
    )

    mn, width, nbins = 0.0, 2.5, 16

    def check():
        hist = histogram_bins(_events_frame(spark, rows), "value", mn, width, nbins)
        w = hist.agg(F.sum("cnt").alias("n")).select(
            F.lit(mn).alias("mn"), F.lit(width).alias("width"), "n"
        )
        want = sorted(map(tuple, quantiles_from_histogram(hist, w, (0.25, 0.5, 0.9)).collect()))
        got = read_histogram_quantiles(spark, state, mn, width, qs=(0.25, 0.5, 0.9))
        assert sorted(map(tuple, got.collect())) == want

    return (
        lambda src: start_histogram_stream(
            spark, src, state, ckpt, EVENT_SCHEMA, "value", mn, width, nbins,
            max_files_per_trigger=1,
        ),
        state,
        check,
    )


SNAPSHOT_STREAMS = {"daily_totals": _daily_totals, "rollup": _rollup, "histogram": _histogram}


@pytest.mark.parametrize("name", sorted(SNAPSHOT_STREAMS))
def test_snapshot_store_retention_keeps_state_flat(spark, tmp_path, name):
    """Nine single-file epochs, one query per arrival: a snapshot store
    never holds more than two ``batch_id`` dirs, and the final read
    still equals the batch twin or the hand-summed expectation."""
    rows = _events(90)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    start, store, check = SNAPSHOT_STREAMS[name](spark, state, ckpt, rows, tmp_path)
    src = tmp_path / "in"
    src.mkdir()
    n_dirs = []
    for j in range(9):
        f = src / f"b{j}.jsonl"
        f.write_text("\n".join(json.dumps(r) for r in rows[j * 10 : (j + 1) * 10]))
        t = time.time() - 60 * (9 - j)
        os.utime(f, (t, t))
        start(str(src)).awaitTermination(180)
        n_dirs.append(len(glob.glob(f"{store}/batch_id=*")))

    assert n_dirs[:2] == [1, 2] and max(n_dirs) == 2, n_dirs
    check()


def test_replayed_epoch_keeps_folded_rollup(spark, tmp_path):
    """Drain two files through the rollup stream, delete the last commit
    so the restarted query replays epoch 1 over its own snapshot, and
    require the store rows and ``read_rollup`` to come out unchanged:
    the replay folds onto snapshot 0, never onto its own ``batch_id=1``."""
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_rollup,
        start_rollup_stream,
    )

    _land(
        tmp_path / "in",
        [
            [{"k": "a", "v": 1.0}, {"k": "a", "v": 2.0}, {"k": "b", "v": 10.0}],
            [{"k": "a", "v": 4.0}, {"k": "c", "v": 7.0}],
        ],
    )
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    rollup, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")

    def _run():
        start_rollup_stream(
            spark, str(tmp_path / "in"), rollup, ckpt, schema, ["k"], "v",
            max_files_per_trigger=1,
        ).awaitTermination(180)

    def _read():
        return sorted(tuple(r) for r in read_rollup(spark, rollup, ["k"]).collect())

    want = [("a", 3, 7.0), ("b", 1, 10.0), ("c", 1, 7.0)]
    _run()
    before = _rows(spark, rollup)
    assert _read() == want
    newest = spark.read.parquet(f"{rollup}/batch_id=1").select("k", "n", "total")
    assert sorted(tuple(r) for r in newest.collect()) == want

    for f in glob.glob(f"{ckpt}/commits/1") + glob.glob(f"{ckpt}/commits/.1.crc"):
        os.remove(f)
    _run()
    assert os.path.exists(f"{ckpt}/commits/1")  # epoch 1 really ran again
    assert _rows(spark, rollup) == before
    assert _read() == want


def test_read_latest_skips_uncommitted_snapshot_and_runs_no_job(spark, tmp_path):
    """A ``batch_id`` dir holding a valid part file but no ``_SUCCESS``
    (a crash inside the job commit) is not a snapshot, and finding the
    newest snapshot launches no Spark job."""
    from e_commerce_data_engineering_spark.streaming.epochs import read_latest, write_epoch

    store = str(tmp_path / "store")
    write_epoch(spark.createDataFrame([(1, "old")], "k bigint, v string"), store, 0)
    write_epoch(spark.createDataFrame([(2, "torn")], "k bigint, v string"), store, 1)
    for f in glob.glob(f"{store}/batch_id=1/*_SUCCESS*"):
        os.remove(f)
    assert glob.glob(f"{store}/batch_id=1/part-*")

    sc = spark.sparkContext
    sc.setJobGroup("read_latest_probe", "read_latest launches no job")
    try:
        latest = read_latest(spark, store)
        jobs = list(sc.statusTracker().getJobIdsForGroup("read_latest_probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert [tuple(r) for r in latest.collect()] == [(1, "old")]
    assert read_latest(spark, str(tmp_path / "missing")) is None


def test_corrupt_cms_store_raises_instead_of_reading_empty(spark, tmp_path):
    """A committed CMS snapshot whose part file is not parquet must fail
    the read: only a missing store reads as the empty grid, so a corrupt
    one cannot steer a join as if the side had no rows."""
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_join_size_estimate,
    )

    snap = tmp_path / "cms" / "side=a" / "batch_id=0"
    snap.mkdir(parents=True)
    (snap / "part-00000-0.snappy.parquet").write_bytes(b"not a parquet file")
    (snap / "_SUCCESS").write_bytes(b"")
    with pytest.raises(Exception, match="(?i)parquet"):
        read_join_size_estimate(spark, str(tmp_path / "cms")).collect()


def test_driver_memory_default_fits_physical_ram(monkeypatch):
    from e_commerce_data_engineering_spark import session

    def mb(spec):
        assert spec.endswith("m")
        return int(spec[:-1])

    real = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < mb(session.default_driver_memory()) <= min(real, 16 * 1024)

    for ram_gb in (1, 4, 15, 64, 512):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * 2**30 // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        assert mb(session.default_driver_memory()) <= min(ram_gb * 1024, 16 * 1024)
