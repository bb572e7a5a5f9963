"""Batch pipeline: raw JSONL → validate → enrich → partitioned sink
(SURVEY §3.2) — the Spark twin of the processor Lambda
(/root/reference/ecommerce-order-processor.py:164-227).

Reference semantics kept:
* PERMISSIVE JSONL parse, malformed lines counted & skipped
  (processor:176-182 → _corrupt_record, SURVEY §2.1 S2);
* invalid orders counted, and (upgrade) quarantined instead of dropped;
* Hive-partitioned output by **processing** date (processor:196-203 —
  wall-clock, not event time; SURVEY §7.4-7);
* returned metrics = the Lambda's JSON response (processor:219-227).

Scale: the per-file Lambda loop becomes one distributed job; partition
count follows the file splits; the sink writes one file per task into
year=/month=/day=/.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions.enrich import enrich
from .functions.validate import split_valid
from .schemas import RAW_ORDER_SCHEMA_PERMISSIVE


def _permissive_json(reader):
    """Raw-order schema-on-read with corrupt-line capture (S2), for a
    batch ``DataFrameReader`` or a streaming ``DataStreamReader``."""
    return (
        reader.schema(RAW_ORDER_SCHEMA_PERMISSIVE)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )


def read_raw_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Permissive schema-on-read with corrupt-line capture (S2)."""
    return _permissive_json(spark.read).json(path)


def with_processing_partitions(df: DataFrame, now: _dt.datetime | None = None) -> DataFrame:
    """year=/month=/day= columns from *processing* time (processor:196-203)."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    return df.withColumns(
        {
            "year": F.lit(now.strftime("%Y")),
            "month": F.lit(now.strftime("%m")),
            "day": F.lit(now.strftime("%d")),
        }
    )


def _write_outputs(
    processed: DataFrame,
    invalid: DataFrame,
    out_dir: str | None,
    quarantine_dir: str | None,
    output_format: str,
    now: _dt.datetime | None = None,
) -> tuple[int | None, int | None]:
    """Append the processed rows to ``out_dir`` and the quarantined
    ones (``errors`` as a JSON string) to ``quarantine_dir``, each
    partitioned by processing date; a missing directory is skipped.
    → rows written to each (None where skipped). The counts ride along
    with the write as an observation instead of re-scanning afterwards
    (A6 metrics; the reference's processed/rejected counters,
    processor:184-194) — at 100 TB a metrics ``.count()`` is a full
    extra pass."""

    def append(df: DataFrame, path: str | None) -> int | None:
        if not path:
            return None
        obs = Observation()
        (
            with_processing_partitions(df, now)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .partitionBy("year", "month", "day")
            .format(output_format)
            .save(path)
        )
        return obs.get["n"]

    return (
        append(processed, out_dir),
        append(invalid.withColumn("errors", F.to_json("errors")), quarantine_dir),
    )


@dataclass
class BatchResult:
    total_processed: int
    invalid_orders: int
    corrupt_lines: int
    output_path: str | None
    quarantine_path: str | None


def process_raw(raw: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """→ (processed, quarantined, corrupt). Pure transformation — shared
    by the batch and streaming drivers.

    Spark refuses to filter solely on _corrupt_record over a JSON scan
    unless the parsed frame is cached (the raw record isn't retained
    otherwise) — per-batch cache, unpersisted by the caller if needed;
    at 100 TB scale the cache covers only the current micro-batch/file
    split, not the whole corpus.
    """
    raw = raw.cache()
    corrupt = raw.filter(F.col("_corrupt_record").isNotNull())
    parsed = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    valid, invalid = split_valid(parsed)
    return enrich(valid), invalid, corrupt


def run_batch(
    spark: SparkSession,
    in_path: str,
    out_dir: str | None = None,
    quarantine_dir: str | None = None,
    now: _dt.datetime | None = None,
    output_format: str = "json",
) -> BatchResult:
    """Full reference-equivalent run. ``output_format='parquet'`` is the
    columnar upgrade for the analytics surface (json = byte-level
    reference parity)."""
    raw = read_raw_jsonl(spark, in_path)
    processed, invalid, corrupt = process_raw(raw)
    n_processed, n_invalid = _write_outputs(
        processed, invalid, out_dir, quarantine_dir, output_format, now
    )
    result = BatchResult(
        total_processed=processed.count() if n_processed is None else n_processed,
        invalid_orders=invalid.count() if n_invalid is None else n_invalid,
        corrupt_lines=corrupt.count(),
        output_path=out_dir or None,
        quarantine_path=quarantine_dir or None,
    )
    raw.unpersist()  # process_raw's parse cache; every count is taken
    return result
