"""Physical-layout operators: bucketing and skew salting (SURVEY §4.2,
the 'Partitioning & shuffle' levers).

* **Bucketing** pre-shuffles a table once at write time; later joins or
  aggregations on the bucket key read co-located buckets and skip the
  exchange entirely — the single biggest shuffle saver for repeated
  fact⋈fact joins at 100 TB.
* **Salting** splits a hot key across ``salt_factor`` synthetic
  sub-keys: the small side is replicated per salt, the big side draws
  a deterministic salt per row, so one executor no longer owns the
  whole hot key. AQE's skew-join split handles moderate skew
  automatically; salting is the explicit fallback for extreme keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the scan yields fewer partitions than the
    cluster has slots — e.g. one small parquet file → one task → zero
    parallelism for CPU-heavy per-row work (tokenize/shingle/hash).

    On a real cluster a 100 TB table already arrives in thousands of
    splits, so this is a no-op there; it exists for the small-file /
    single-split edge where the default file-split logic under-fans.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (optionally sorted) managed table. Joins
    between tables bucketed identically on the join key skip the
    shuffle (no Exchange in the plan — asserted in tests)."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def salted_join(
    left: DataFrame,
    right_small: DataFrame,
    key: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: left rows get a deterministic salt in
    [0, salt_factor); the (smaller) right side is replicated once per
    salt value. Correctness is unchanged — every (key, salt) pair still
    meets — but a hot key's rows now spread over salt_factor tasks.

    Use when ONE side is modest (replication cost = |right|·factor)
    and the other is huge and skewed.
    """
    salt = F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()), F.lit(salt_factor))
    l = left.withColumn("_salt", salt.cast("int"))
    r = right_small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)))
    )
    out = l.join(r, [key, "_salt"], how)
    return out.drop("_salt")


def compact_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    file_format: str = "parquet",
) -> int:
    """Small-files compaction: rewrite a directory of many small files
    into ceil(total_bytes / target_file_bytes) files of ~target size.

    Streaming sinks and per-trigger micro-batches accrete thousands of
    tiny files; scans then pay per-file open/footer costs and lose
    split parallelism. Compaction is the standing maintenance job of
    any 100 TB lake. Size-based (not count-based): file count is
    computed from actual input bytes, so the same call works at any
    scale. Returns the number of output files written.
    """
    df = spark.read.format(file_format).load(path)
    # input size from the files the scan actually resolved
    statuses = (
        spark._jvm.org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark._jsc.hadoopConfiguration())
        .globStatus(spark._jvm.org.apache.hadoop.fs.Path(path + "/*"))
    )
    total_bytes = sum(f.getLen() for f in statuses if f.isFile())
    n_files = max(1, -(-total_bytes // target_file_bytes))
    df.repartition(n_files).write.mode("overwrite").format(file_format).save(out_path)
    return n_files


def _keep_latest(
    current: DataFrame | None,
    updates: DataFrame,
    key_col: str,
    version_col: str,
    allow_missing_columns: bool = False,
) -> DataFrame:
    """The keep-latest-by-key merge both upserts publish: ``current``
    (None: no table yet) unioned with ``updates``, one row per key with
    the highest ``version_col``, updates winning ties via a source rank."""
    from pyspark.sql import Window as W

    if current is None:
        current = updates.limit(0)
    merged = current.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1)), allowMissingColumns=allow_missing_columns
    )
    w = W.partitionBy(key_col).orderBy(F.col(version_col).desc(), F.col("_src").desc())
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def upsert_parquet(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_col: str,
    version_col: str,
) -> int:
    """Keep-latest-by-key MERGE into a parquet directory (the lakehouse
    upsert without a table format): union existing rows with updates,
    keep the highest-``version_col`` row per key (ties: updates win via
    a source-rank tiebreak). The merged data is written ONCE to a
    staging directory, then swapped in with directory renames — the
    swap window is two metadata operations, and a crash inside it
    leaves the previous table recoverable at ``<target>__old`` (not
    atomic in the transactional sense — that is what a Delta/Iceberg
    commit log adds — but never a partial data state, and only 1x
    write amplification).

    At 100 TB scale this is the compaction-style merge job you run per
    partition. One shuffle on the key; the window is partial-
    aggregation friendly. Returns the row count of the merged table.

    A call that finds no target but a ``<target>__old`` (a crash between
    the two renames) first renames ``__old`` back, so the merge never
    starts from an empty table while the previous one is on disk.
    """
    fs, jPath = _fs(spark, target_dir)
    fs_path = jPath(target_dir)
    staging = target_dir.rstrip("/") + "__staging"
    old = target_dir.rstrip("/") + "__old"
    if not fs.exists(fs_path) and fs.exists(jPath(old)):
        fs.rename(jPath(old), fs_path)
    current = spark.read.parquet(target_dir) if fs.exists(fs_path) else None
    latest = _keep_latest(current, updates, key_col, version_col)
    # observe(): row count comes out of the single write pass — no
    # second read-back scan just to count.
    from pyspark.sql import Observation

    obs = Observation("upsert_rows")
    latest.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(staging)
    n = int(obs.get["n"])
    # swap: current -> __old, staging -> current, drop __old
    fs.delete(jPath(old), True)
    if fs.exists(fs_path):
        fs.rename(fs_path, jPath(old))
    fs.rename(jPath(staging), fs_path)
    fs.delete(jPath(old), True)
    return n


def zorder_value(bucket_cols: list, bits: int = 8):
    """Interleave the bits of per-column bucket ids (each in
    [0, 2^bits)) into one Z-curve key — built entirely from shiftleft/
    shiftright/bitwise-OR column expressions, no UDF."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for c_idx, c in enumerate(bucket_cols):
            bit = F.shiftrightunsigned(c.cast("bigint"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(bucket_cols) + c_idx))
    return z


def zorder_write(
    df: DataFrame,
    cols: list[str],
    out_path: str,
    n_files: int = 16,
    bits: int = 8,
    file_format: str = "parquet",
) -> list[list[float]]:
    """Write ``df`` Z-ORDERED on ``cols``: rows are range-partitioned and
    sorted along a Morton (Z) space-filling curve over the columns'
    QUANTILE buckets, so every output file covers a narrow min/max range
    in EVERY listed column — the precondition for parquet row-group /
    file skipping on any of them. A plain sort gives perfect skipping on
    one column and none on the others; Z-order trades a little of the
    first column's locality for skipping on all of them (the Delta/
    Iceberg OPTIMIZE ZORDER layout, built from native expressions).

    Buckets come from approxQuantile boundaries (driver state: ``2^bits``
    doubles per column, data-size independent), so skewed distributions
    still fill the curve evenly. Returns the per-column boundaries used.

    At 100 TB this is the compaction pass you run per partition;
    ``n_files`` maps to target file count (one range of the curve each).
    """
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    boundaries = [df.approxQuantile(c, probs, 0.001) for c in cols]

    def bucket_of(c: str, bounds: list[float]):
        # index of the first boundary >= value == count of boundaries < value;
        # a sorted-literal-array binary search via filter+size (O(log) after
        # codegen constant-folding; bounded by 2^bits literals)
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        return F.size(F.filter(arr, lambda b: b < F.col(c).cast("double")))

    zcols = [bucket_of(c, bnd) for c, bnd in zip(cols, boundaries)]
    with_z = df.withColumn("_z", zorder_value(zcols, bits))
    (
        with_z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .format(file_format)
        .save(out_path)
    )
    return boundaries


def missing_partitions(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    depth: int = 3,
    require_success: bool = False,
) -> list[str]:
    """Hive-partition directories (relative paths like
    ``year=2026/month=01/day=05``) present under ``source_dir`` but
    absent under ``target_dir`` — the work-list of an incremental
    backfill. Pure filesystem metadata: no data is read.

    With ``require_success`` a target partition only counts as present
    if it contains a ``_SUCCESS`` marker: a job that died mid-write
    leaves the directory (Spark creates it with ``_temporary`` files
    before commit) but no marker, and must be redone, not skipped."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def leaf_dirs(root: str, check_success: bool) -> set[str]:
        root_path = jvm.org.apache.hadoop.fs.Path(root)
        fs = root_path.getFileSystem(conf)
        if not fs.exists(root_path):
            return set()
        found: set[str] = set()

        def walk(path, rel: str, level: int):
            if level == depth:
                if not check_success or fs.exists(
                    jvm.org.apache.hadoop.fs.Path(path, "_SUCCESS")
                ):
                    found.add(rel)
                return
            for st in fs.listStatus(path):
                if st.isDirectory() and "=" in st.getPath().getName():
                    name = st.getPath().getName()
                    walk(st.getPath(), f"{rel}/{name}" if rel else name, level + 1)

        walk(root_path, "", 0)
        return found

    return sorted(
        leaf_dirs(source_dir, False) - leaf_dirs(target_dir, require_success)
    )


def backfill_partitions(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    transform,
    depth: int = 3,
    file_format: str = "parquet",
) -> list[str]:
    """Incremental partition-wise backfill: apply ``transform(df) ->
    df`` to every source partition missing from the target, writing
    each result to the matching target partition directory. Already-
    processed partitions are never re-read or re-written, so a daily
    pipeline that died mid-backfill resumes exactly where it stopped —
    and each partition's write is independent, so the work-list can be
    sharded across jobs at 100 TB. A partition counts as done only when
    its ``_SUCCESS`` marker exists, so a crash mid-write (directory
    present, commit absent) is repaired on resume. Returns the
    partitions processed.
    """
    todo = missing_partitions(
        spark, source_dir, target_dir, depth, require_success=True
    )
    for rel in todo:
        df = spark.read.format(file_format).load(f"{source_dir}/{rel}")
        out = transform(df)
        out.write.mode("overwrite").format(file_format).save(f"{target_dir}/{rel}")
    return todo


# ---------------------------------------------------------------------------
# Snapshot-versioned parquet table: atomic publish + time travel
# (round 7 — the native stand-in for the Delta/Iceberg commit log this
# container can't load; see README "lakehouse formats")
# ---------------------------------------------------------------------------

_LATEST = "_latest"


def _fs(spark: SparkSession, path: str):
    jPath = spark._jvm.org.apache.hadoop.fs.Path
    p = jPath(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jPath


def _committed_versions(spark: SparkSession, table_dir: str) -> list[int]:
    """Sorted committed versions = the ``_latest.N`` marker files
    (Delta-style commit log: one append-only marker per commit)."""
    fs, jPath = _fs(spark, table_dir)
    root = jPath(table_dir)
    if not fs.exists(root):
        return []
    prefix = _LATEST + "."
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(prefix) and name[len(prefix) :].isdigit():
            out.append(int(name[len(prefix) :]))
    return sorted(out)


def _read_pointer(spark: SparkSession, table_dir: str) -> int | None:
    """Latest committed version (max marker N), None for an empty table."""
    versions = _committed_versions(spark, table_dir)
    return versions[-1] if versions else None


def snapshot_commit(spark: SparkSession, df: DataFrame, table_dir: str) -> int:
    """Append ``df`` as the table's next immutable version and publish
    it ATOMICALLY via a Delta-style commit log: data lands under
    ``v=<n>/`` first, then ONE empty marker file ``_latest.<n>`` is
    created (a single atomic create — no delete, no rename, no window
    where the table has no pointer; readers take the max marker N). A
    crash before the marker leaves an orphan ``v=<n>`` directory that
    NO reader ever sees, and the next commit simply claims the next
    free number. Old versions and old markers are never touched, so
    every committed version remains readable forever (time travel)
    until a retention job prunes it. This is the commit-log kernel of
    Delta/Iceberg (``_delta_log/N.json`` reduced to an empty marker);
    what the real formats add on top is a manifest per commit
    (file-level pruning) and multi-writer conflict detection.
    Returns the committed version number."""
    fs, jPath = _fs(spark, table_dir)
    cur = _read_pointer(spark, table_dir)
    nxt = 1 if cur is None else cur + 1
    # claim the first free version dir (repairs orphans from crashes)
    while fs.exists(jPath(f"{table_dir}/v={nxt}")):
        nxt += 1
    df.write.mode("errorifexists").parquet(f"{table_dir}/v={nxt}")
    stream = fs.create(jPath(f"{table_dir}/{_LATEST}.{nxt}"), True)
    stream.close()
    return nxt


def snapshot_read(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table at ``version`` (time travel) or at the latest
    COMMITTED version (default). Uncommitted/orphan version dirs are
    invisible by construction — only the pointer decides. Raises
    ValueError for an empty table or a version that was never
    committed (greater than the pointer or missing on disk)."""
    versions = _committed_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"snapshot table {table_dir} has no committed version")
    latest = versions[-1]
    v = latest if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not committed in {table_dir} (latest={latest})")
    return spark.read.parquet(f"{table_dir}/v={v}")


def snapshot_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """(version, n_files, total_bytes, is_latest) for every committed
    version — the audit view a retention/VACUUM job plans from.
    Orphan (uncommitted) dirs are excluded, like every reader."""
    fs, jPath = _fs(spark, table_dir)
    versions = _committed_versions(spark, table_dir)
    latest = versions[-1] if versions else None
    rows = []
    for v in versions:
        vp = jPath(f"{table_dir}/v={v}")
        if not fs.exists(vp):
            continue
        n_files = total = 0
        it = fs.listFiles(vp, True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            # "_" = Spark markers (_SUCCESS), "." = Hadoop hidden files
            # (ChecksumFileSystem's .part-*.crc sidecars on local FS)
            if name.startswith("_") or name.startswith("."):
                continue
            n_files += 1
            total += st.getLen()
        rows.append((v, n_files, total, v == latest))
    return spark.createDataFrame(
        rows, "version int, n_files int, total_bytes bigint, is_latest boolean"
    )


def snapshot_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_col: str,
    version_col: str,
    evolve_schema: bool = False,
) -> int:
    """Keep-latest-by-key MERGE published as a NEW snapshot version:
    same merge semantics as ``upsert_parquet`` (highest version_col per
    key, updates win ties) but instead of swapping directories the
    result commits through ``snapshot_commit`` — so the pre-merge table
    remains readable at its old version during AND after the merge
    (readers never block, time travel keeps the audit trail). One
    shuffle on the key. Returns the new version number.

    ``evolve_schema=True`` is Delta/Iceberg mergeSchema semantics: a
    column only the updates carry is ADDED to the table (pre-existing
    rows read NULL for it); a column the updates omit survives with
    NULL on updated rows. The default (False) stays strict — a schema
    mismatch raises instead of silently widening, the right posture
    for a production ingest whose schema is a contract. Each committed
    version keeps ITS OWN schema on disk (one parquet dir per
    version), so time travel into a pre-evolution version reads the
    pre-evolution schema — exactly Delta's behavior. Type CHANGES are
    not evolution (union still raises on incompatible types)."""
    try:
        current = snapshot_read(spark, table_dir)
    except ValueError:
        current = None
    latest = _keep_latest(current, updates, key_col, version_col, evolve_schema)
    return snapshot_commit(spark, latest, table_dir)


def snapshot_compact(
    spark: SparkSession, table_dir: str, target_file_bytes: int = 128 << 20
) -> int:
    """OPTIMIZE for the snapshot kernel: rewrite the LATEST committed
    version's data into ~``target_file_bytes``-sized files and publish
    the rewrite as a NEW committed version — logically a no-op (same
    rows), physically the small-files cure. Because the rewrite goes
    through ``snapshot_commit``, readers of the old version are never
    disturbed and the pre-compaction layout stays time-travelable
    until a vacuum prunes it — exactly Delta OPTIMIZE / Iceberg
    rewrite_data_files semantics (bin-pack flavor). The rewrite uses
    ``coalesce`` (no shuffle: each output task concatenates whole
    input files, the same plan a 100 TB per-partition compaction job
    wants) sized from the version's actual on-disk bytes. Idempotent:
    if the latest version already has <= the target file count the
    call returns it unchanged, so a scheduled compactor converges
    instead of rewriting forever. Returns the (new or unchanged
    latest) version number."""
    versions = _committed_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"snapshot table {table_dir} has no committed version")
    latest = versions[-1]
    hist = {
        r["version"]: (r["n_files"], r["total_bytes"])
        for r in snapshot_history(spark, table_dir).collect()
    }
    n_files, total_bytes = hist[latest]
    target_n = max(1, -(-total_bytes // max(1, target_file_bytes)))
    if n_files <= target_n:
        return latest
    compacted = snapshot_read(spark, table_dir, latest).coalesce(int(target_n))
    return snapshot_commit(spark, compacted, table_dir)


def snapshot_vacuum(
    spark: SparkSession, table_dir: str, keep_last: int = 1
) -> list[int]:
    """Retention job for the snapshot kernel: physically delete all but
    the newest ``keep_last`` committed versions (data dir first, marker
    LAST — a crash mid-vacuum leaves a marker whose data is partially
    gone, and deleting the marker first would make the version an
    invisible orphan that no later vacuum can find; marker-last means a
    re-run simply resumes). The latest version is NEVER deleted
    (``keep_last`` floors at 1), so concurrent readers of the current
    snapshot are unaffected; readers time-traveling into vacuumed
    versions lose them — exactly Delta/Iceberg VACUUM / expire_snapshots
    semantics, where the retention window is the time-travel horizon.
    Orphan (uncommitted) ``v=N`` dirs older than the oldest KEPT
    committed version are swept too (they are crash debris no reader
    can see). Returns the vacuumed version numbers."""
    if keep_last < 1:
        keep_last = 1
    fs, jPath = _fs(spark, table_dir)
    versions = _committed_versions(spark, table_dir)
    if len(versions) <= keep_last:
        victims: list[int] = []
    else:
        victims = versions[:-keep_last]
    for v in victims:
        vp = jPath(f"{table_dir}/v={v}")
        if fs.exists(vp):
            fs.delete(vp, True)
        fs.delete(jPath(f"{table_dir}/{_LATEST}.{v}"), False)
    # sweep crash-orphan dirs below the oldest kept committed version:
    # invisible to every reader, unreachable by any future commit claim
    kept = set(versions[-keep_last:]) if versions else set()
    floor = min(kept) if kept else 0
    root = jPath(table_dir)
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("v=") and name[2:].isdigit():
                n = int(name[2:])
                if n < floor and n not in kept:
                    fs.delete(st.getPath(), True)
    return victims
