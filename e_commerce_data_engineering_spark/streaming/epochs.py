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

Stores come in two kinds, by what bounds their state:

* A *snapshot* store holds state bounded by its keys or its sketch size
  (rollup, daily totals, transition counts, attribution totals,
  histogram, KMV, AMS, count sketch, linear counting, both samples, the
  CMS sides, the Bloom bits, and the trending, DGIM, Misra–Gries and
  ``last`` stores). Each epoch writes the whole state, built from the
  newest earlier snapshot, and a reader reads the newest snapshot
  (``read_latest``). Mergeable state is written by ``fold_epoch``:
  ``merge(part ∪ previous snapshot)``, where ``sum_by`` is the merge of
  every summed store; the order-dependent stores keep their own step.
* A *log* store holds state that grows with what has been accepted or
  that records history (dedup membership, semantic-dedup centroids,
  active-user day pairs, per-epoch metrics, accepted outputs). Each
  epoch appends its own rows, and a reader unions them (``read_before``).

**Retention** applies to snapshot stores. When epoch N reads its prior
snapshot M with ``read_latest(..., before=N)``, the snapshots older than
M are deleted. Every epoch before N has committed by the time N runs, so
none of them can be replayed, and a replay of N still finds M. A
snapshot store therefore holds at most two snapshots, however long the
stream runs. A snapshot counts once its ``_SUCCESS`` marker exists, so a
write that crashed inside the job commit is never read.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
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


def fold_epoch(
    part: DataFrame,
    store_dir: str,
    epoch_id: int,
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    """Write ``merge(part ∪ newest snapshot before epoch_id)`` as the
    snapshot of ``epoch_id``: the one write path of every mergeable
    snapshot store. ``part`` has the snapshot's columns and is the
    batch's contribution: its rows themselves where ``merge``
    aggregates them (a summed store passes one row per input row, so
    the batch and the snapshot are grouped in one aggregation), or a
    frame the caller already reduced."""
    prev = read_latest(part.sparkSession, store_dir, before=epoch_id)
    write_epoch(merge(part if prev is None else part.unionByName(prev)), store_dir, epoch_id)


def sum_by(*keys: str) -> Callable[[DataFrame], DataFrame]:
    """The merge of a summed store: every non-key column summed by
    ``keys``, keeping that column's type."""

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(
            *(F.sum(f.name).cast(f.dataType).alias(f.name) for f in df.schema if f.name not in keys)
        )

    return merge


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
    """The newest committed snapshot (before ``before`` when given), or
    None when there is none. With ``before`` this is a snapshot store's
    per-epoch read, and it retires the older snapshots.

    One directory listing finds the snapshot and the schema comes from a
    part file's footer, where Spark records it, so no Spark job runs."""
    fs, jPath = _fs(spark, store_dir)
    files: dict[int, list] = {}
    for st in fs.globStatus(jPath(f"{store_dir}/batch_id=*/*")) or ():
        path = st.getPath()
        files.setdefault(int(path.getParent().getName()[len("batch_id="):]), []).append(path)
    committed = [
        e for e, paths in files.items()
        if (before is None or e < before) and any(p.getName() == "_SUCCESS" for p in paths)
    ]
    if not committed:
        return None
    latest = max(committed)
    if before is not None:
        for e in files:
            if e < latest:
                fs.delete(jPath(f"{store_dir}/batch_id={e}"), True)
    part = next(p for p in files[latest] if p.getName().startswith("part-"))
    footer = spark._jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark._jsc.hadoopConfiguration(), part
    )
    row_meta = footer.getFileMetaData().getKeyValueMetaData().get(
        "org.apache.spark.sql.parquet.row.metadata"
    )
    schema = T.StructType.fromJson(json.loads(row_meta))
    return spark.read.schema(schema).parquet(f"{store_dir}/batch_id={latest}")
