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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.enrich import enrich
from .functions.validate import split_valid
from .schemas import RAW_ORDER_SCHEMA_PERMISSIVE


def read_raw_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Permissive schema-on-read with corrupt-line capture (S2)."""
    return (
        spark.read.schema(RAW_ORDER_SCHEMA_PERMISSIVE)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def with_processing_partitions(df: DataFrame, now: _dt.datetime | None = None) -> DataFrame:
    """year=/month=/day= columns from *processing* time (processor:196-203)."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    return (
        df.withColumn("year", F.lit(now.strftime("%Y")))
        .withColumn("month", F.lit(now.strftime("%m")))
        .withColumn("day", F.lit(now.strftime("%d")))
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
    from pyspark.sql import Observation

    raw = read_raw_jsonl(spark, in_path)
    processed, invalid, corrupt = process_raw(raw)

    # observe(): row counters ride along with the write action instead
    # of re-scanning afterwards (A6 metrics; the reference's processed/
    # rejected counters, processor:184-194). At 100 TB a metrics
    # .count() is a full extra pass — observation is free.
    out_path = quarantine_path = None
    if out_dir:
        out_path = out_dir
        obs_p = Observation()
        (
            with_processing_partitions(processed, now)
            .observe(obs_p, F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .partitionBy("year", "month", "day")
            .format(output_format)
            .save(out_dir)
        )
        n_processed = obs_p.get["n"]
    else:
        n_processed = processed.count()
    if quarantine_dir:
        quarantine_path = quarantine_dir
        obs_q = Observation()
        (
            with_processing_partitions(invalid.withColumn("errors", F.to_json("errors")), now)
            .observe(obs_q, F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .partitionBy("year", "month", "day")
            .format(output_format)
            .save(quarantine_dir)
        )
        n_invalid = obs_q.get["n"]
    else:
        n_invalid = invalid.count()
    n_corrupt = corrupt.count()
    raw.unpersist()  # process_raw's parse cache; every count is taken

    return BatchResult(
        total_processed=n_processed,
        invalid_orders=n_invalid,
        corrupt_lines=n_corrupt,
        output_path=out_path,
        quarantine_path=quarantine_path,
    )
