"""Source/sink coverage (SURVEY §2.1): format round-trips of the order
schema (JSONL byte-parity path + columnar internals), Hive partition
discovery + pruning, and corrupt-record permissive semantics (tested
in test_reference_parity.test_corrupt_line_handling)."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from e_commerce_data_engineering_spark.pipeline import with_processing_partitions
from e_commerce_data_engineering_spark.schemas import RAW_ORDER_SCHEMA
from e_commerce_data_engineering_spark.sources.generator import generate_orders

NOW = dt.datetime(2026, 8, 10, 12, 0, 0, tzinfo=dt.timezone.utc)


def _orders(spark, n=60):
    return generate_orders(spark, n, seed=3, now=NOW)


def _sorted_json(df):
    return sorted(
        json.dumps(json.loads(s), sort_keys=True) for s in df.toJSON().collect()
    )


def test_roundtrip_parquet_json_csv_orc(spark, tmp_path):
    src = _orders(spark)
    want = _sorted_json(src)
    # parquet + orc: full nested schema
    for fmt in ("parquet", "orc"):
        p = str(tmp_path / fmt)
        src.write.format(fmt).save(p)
        got = _sorted_json(spark.read.format(fmt).load(p))
        assert got == want, fmt
    # json: declared schema on read (schema-on-read like the reference)
    p = str(tmp_path / "json")
    src.write.json(p)
    got = _sorted_json(spark.read.schema(RAW_ORDER_SCHEMA).json(p))
    assert got == want
    # csv: flat columns only (csv can't nest; items dropped)
    flat = src.drop("items")
    p = str(tmp_path / "csv")
    flat.write.option("header", True).csv(p)
    back = spark.read.option("header", True).schema(flat.schema).csv(p)
    assert _sorted_json(back) == _sorted_json(flat)


def test_partition_discovery_and_pruning(spark, tmp_path):
    """Hive-style year=/month=/day= layout (S5): partition columns are
    discovered on read, and a partition filter prunes the scan."""
    out = str(tmp_path / "out")
    for day, seed in (("2026-08-10", 1), ("2026-08-11", 2)):
        now = dt.datetime.fromisoformat(day + "T00:00:00+00:00")
        df = with_processing_partitions(generate_orders(spark, 30, seed=seed, now=now), now)
        df.write.mode("append").partitionBy("year", "month", "day").parquet(out)

    back = spark.read.parquet(out)
    assert {"year", "month", "day"} <= set(back.columns)
    assert back.count() == 60
    one_day = back.filter(F.col("day") == "10")
    assert one_day.count() == 30
    plan = one_day._jdf.queryExecution().explainString(
        one_day._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # partition pruning: the day filter appears as a PartitionFilter,
    # not a post-scan Filter
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:200]


def test_jsonl_line_format_matches_reference(spark, tmp_path):
    """Sink byte-format check: one JSON object per line, parseable by
    the reference's per-line json.loads (processor:176-182)."""
    p = str(tmp_path / "jsonl")
    _orders(spark, 10).coalesce(1).write.json(p)
    import glob

    files = glob.glob(f"{p}/part-*.json")
    assert files
    with open(files[0]) as f:
        lines = [line for line in f if line.strip()]
    assert len(lines) == 10
    for line in lines:
        o = json.loads(line)
        assert o["order_id"].startswith("ORD-")
        assert isinstance(o["items"], list) and o["items"]


def test_run_batch_metrics_and_partitioned_sink(spark, tmp_path):
    """run_batch returns the reference Lambda's response counters
    (observation-collected during the write, not re-scanned) and lays
    out year=/month=/day= Hive partitions."""
    import datetime as dt
    import glob
    import json as _json

    from e_commerce_data_engineering_spark.pipeline import run_batch
    from e_commerce_data_engineering_spark.sources.generator import generate_orders

    lines = generate_orders(spark, 30, seed=11).toJSON().collect()
    raw = tmp_path / "raw"
    raw.mkdir()
    bad_valid_json = _json.dumps({"order_id": "", "total_amount": -3.0})
    (raw / "a.jsonl").write_text("\n".join(lines) + "\nnot json at all\n" + bad_valid_json + "\n")

    now = dt.datetime(2026, 2, 3, tzinfo=dt.timezone.utc)
    res = run_batch(
        spark,
        str(raw),
        out_dir=str(tmp_path / "processed"),
        quarantine_dir=str(tmp_path / "quarantine"),
        now=now,
    )
    assert (res.total_processed, res.invalid_orders, res.corrupt_lines) == (30, 1, 1)
    assert glob.glob(str(tmp_path / "processed" / "year=2026" / "month=02" / "day=03" / "*.json"))
    assert glob.glob(str(tmp_path / "quarantine" / "year=2026" / "month=02" / "day=03" / "*.json"))


def test_run_batch_frees_parse_cache(spark, tmp_path):
    """process_raw caches the parsed input; once run_batch has its
    counts it must leave nothing in the session's cache."""
    from e_commerce_data_engineering_spark.pipeline import run_batch
    from e_commerce_data_engineering_spark.sources.generator import generate_orders

    raw = tmp_path / "raw"
    raw.mkdir()
    lines = generate_orders(spark, 10, seed=3).toJSON().collect()
    (raw / "a.jsonl").write_text("\n".join(lines) + "\nnot json\n")

    spark.catalog.clearCache()
    res = run_batch(spark, str(raw))
    assert (res.total_processed, res.corrupt_lines) == (10, 1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC source/sink breadth (SURVEY §2.1): values survive a
    parquet→ORC→read round-trip bit-for-bit and predicates reach the
    ORC reader (PushedFilters), so a lake standardized on ORC gets the
    same scan-level pruning as the parquet path."""
    from pyspark.sql import functions as F

    from e_commerce_data_engineering_spark.sources.tables import load_table

    cust = load_table(spark, "/root/testdata/sf0.001", "customer")
    orc_dir = str(tmp_path / "customer_orc")
    cust.write.mode("overwrite").orc(orc_dir)

    back = spark.read.orc(orc_dir)
    assert back.schema == cust.schema
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in cust.collect()}

    filtered = back.filter(F.col("c_acctbal") > 1000.0).select("c_custkey", "c_acctbal")
    plan = filtered._jdf.queryExecution().explainString(
        filtered._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters: [" in plan and "GreaterThan(c_acctbal,1000.0)" in plan, plan
    # column pruning reaches the ORC scan too
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "c_custkey" in read_schema and "c_name" not in read_schema
    assert filtered.count() == cust.filter(F.col("c_acctbal") > 1000.0).count()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet writes (SURVEY §2.1): a later
    writer adds a column; mergeSchema reads the union schema with
    nulls for the old files, and the new column's filter still prunes
    (evolution must not break pushdown)."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.range(5).select(F.col("id").alias("k"), F.lit("v1").alias("a")).write.mode(
        "append"
    ).parquet(p)
    spark.range(5, 10).select(
        F.col("id").alias("k"), F.lit("v2").alias("a"), (F.col("id") * 10).alias("b")
    ).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"k", "a", "b"}
    rows = {r["k"]: (r["a"], r["b"]) for r in merged.collect()}
    assert rows[0] == ("v1", None) and rows[7] == ("v2", 70)
    # filter on the evolved column still reaches the scan
    plan = (
        merged.filter(F.col("b") > 50)
        ._jdf.queryExecution()
        .explainString(
            merged._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "GreaterThan(b,50)" in plan, plan
    assert merged.filter(F.col("b") > 50).count() == 4


def test_jdbc_roundtrip_pushdown_and_partitioned_read(spark, tmp_path):
    """JDBC connector against embedded Derby (the real spark JDBC
    relation, not a stub): round-trip a dim table, verify the filter is
    pushed into the source's WHERE (PushedFilters with the
    source-evaluated '*' marker), and verify partitioned reads fan out
    into num_partitions range scans."""
    from pyspark.sql import functions as F

    from e_commerce_data_engineering_spark.sources.jdbc import (
        derby_url,
        jdbc_read,
        jdbc_write,
    )
    from e_commerce_data_engineering_spark.sources.tables import load_table

    url = derby_url(str(tmp_path / "derbydb"))
    cust = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    jdbc_write(cust, url, "customer_dim")

    back = jdbc_read(spark, url, "customer_dim")
    assert back.count() == cust.count()
    a = {tuple(r) for r in cust.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b

    filtered = back.filter(F.col("c_acctbal") > 1000.0)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [*IsNotNull(c_acctbal), *GreaterThan(c_acctbal,1000.0)" in plan, plan

    lo, hi = 0, cust.count() + 1
    part = jdbc_read(
        spark, url, "customer_dim",
        partition_col="c_custkey", lower=lo, upper=hi, num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == cust.count()
