"""The epoch-store layout shared by the ``foreachBatch`` streams in
``streaming/``: how a micro-batch writes its state, and how it reads the
state earlier micro-batches wrote, so that a replayed epoch is harmless.

A store is a directory of ``batch_id=N`` subdirectories, one per epoch.
Three rules make it replay-safe:

1. **Overwrite per epoch.** Epoch N writes only ``<store>/batch_id=N``,
   in overwrite mode (``write_epoch``). After a crash, Structured
   Streaming re-runs the last epoch whose offsets were logged but not
   committed; the replay rewrites the same directory instead of adding a
   second copy.
2. **Skip empty epochs.** ``start_file_stream`` calls its handler only
   for micro-batches that hold rows, so an empty trigger writes nothing.
3. **Read only earlier epochs.** Epoch N reads state from epochs
   strictly before N (``read_before``, ``read_latest(..., before=N)``).
   An attempt of N that crashed after writing leaves its own
   ``batch_id=N`` behind; a replay that read it would see its own rows
   as prior state (a dedup stream would reject its own documents as
   already accepted).

Together with the checkpointed source offsets this turns the reference
processor's duplicate-on-reprocess behaviour into exactly-once state.

Stores come in two kinds. An *additive* store (rollup, histogram, KMV,
AMS, count sketch, linear counting, samples, CMS, dedup membership)
holds one partial per epoch and is folded at read time; every partial
is part of the state and is kept. A *chained* store (trending,
transitions, attribution, daily totals, DGIM, Misra–Gries) holds a full
snapshot per epoch, built from the newest earlier snapshot; only the
newest snapshot is live.

**Retention** applies to chained stores. When epoch N reads its prior
snapshot M with ``read_latest(..., before=N)``, the snapshots older than
M are deleted. Every epoch before N has committed by the time N runs, so
none of them can be replayed, and a replay of N still finds M. A chained
store therefore holds at most two live snapshots, however long the
stream runs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.layout import _fs


def start_file_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    handle: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Drain the JSON files in ``source_dir`` with an AvailableNow
    trigger, calling ``handle(batch_df, epoch_id)`` for every non-empty
    micro-batch."""

    def _non_empty(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            handle(batch_df, epoch_id)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
        .writeStream.foreachBatch(_non_empty)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_epoch(df: DataFrame, store_dir: str, epoch_id: int) -> None:
    """Overwrite ``store_dir/batch_id=<epoch_id>`` with ``df``."""
    df.write.mode("overwrite").parquet(f"{store_dir}/batch_id={epoch_id}")


def read_before(spark: SparkSession, store_dir: str, epoch: int) -> DataFrame | None:
    """Union of every epoch strictly before ``epoch``, or None when the
    store does not exist yet. Any other read failure raises, so a
    corrupt store fails the micro-batch instead of reading as empty."""
    fs, jPath = _fs(spark, store_dir)
    if not fs.exists(jPath(store_dir)):
        return None
    return (
        spark.read.option("basePath", store_dir)
        .parquet(store_dir)
        .filter(F.col("batch_id") < epoch)
        .drop("batch_id")
    )


def read_latest(
    spark: SparkSession, store_dir: str, before: int | None = None
) -> DataFrame | None:
    """The newest epoch that holds rows (before ``before`` when given),
    or None when there is none. With ``before`` this is a chained
    store's per-epoch read, and it retires the older snapshots."""
    fs, jPath = _fs(spark, store_dir)
    if not fs.exists(jPath(store_dir)):
        return None
    epochs = spark.read.option("basePath", store_dir).parquet(store_dir)
    if before is not None:
        epochs = epochs.filter(F.col("batch_id") < before)
    latest = epochs.agg(F.max("batch_id")).collect()[0][0]
    if latest is None:
        return None
    if before is not None:
        for st in fs.listStatus(jPath(store_dir)):
            name = st.getPath().getName()
            if name.startswith("batch_id=") and int(name[len("batch_id="):]) < latest:
                fs.delete(st.getPath(), True)
    return spark.read.parquet(f"{store_dir}/batch_id={latest}")
