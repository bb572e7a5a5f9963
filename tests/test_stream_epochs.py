"""The epoch-store layout (``streaming/epochs``): a replayed epoch must
leave every store as it was, chained snapshot stores must not grow with
the stream, and the driver heap default must fit the machine."""

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


def test_chained_store_retention_keeps_state_flat(spark, tmp_path):
    """Nine single-file epochs of the daily-totals stream, one query
    per arrival: the chained store never holds more than two
    ``batch_id`` dirs, and the final state still equals the batch e23
    twin over all rows."""
    from e_commerce_data_engineering_spark.plans.events import e23_cusum_changepoint
    from e_commerce_data_engineering_spark.streaming.pipeline import (
        read_cusum,
        start_daily_totals_stream,
    )

    base = dt.datetime(2026, 5, 1, 8, 0, 0)
    types = ["view", "click", "purchase"]
    rows = [
        {
            "event_id": i,
            "ts": (base + dt.timedelta(hours=i * 3)).isoformat(),
            "user_id": i % 11,
            "event_type": types[(i * 5 + 1) % 3],
            "value": round(2.11 * (i % 17) + 0.4, 2),
        }
        for i in range(90)
    ]
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
            (r["event_id"], dt.datetime.fromisoformat(r["ts"]), r["user_id"],
             r["event_type"], r["value"])
            for r in rows
        ],
        schema,
    ).write.parquet(str(sfdir / "events.parquet"))

    def _cusum(frame):
        return {
            (r["event_type"], r["day"]): (r["day_value"], r["cusum"], r["is_changepoint"])
            for r in frame.collect()
        }

    src = tmp_path / "in"
    src.mkdir()
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    n_dirs = []
    for j in range(9):
        f = src / f"b{j}.jsonl"
        f.write_text("\n".join(json.dumps(r) for r in rows[j * 10 : (j + 1) * 10]))
        t = time.time() - 60 * (9 - j)
        os.utime(f, (t, t))
        start_daily_totals_stream(
            spark, str(src), state, ckpt, schema, max_files_per_trigger=1
        ).awaitTermination(180)
        n_dirs.append(len(glob.glob(f"{state}/daily/batch_id=*")))

    assert n_dirs[:2] == [1, 2] and max(n_dirs) == 2, n_dirs
    assert _cusum(read_cusum(spark, state)) == _cusum(e23_cusum_changepoint(spark, str(sfdir)))


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
