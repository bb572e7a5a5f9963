"""SparkSession factory.

Tuned for the local[32] test harness but with every setting chosen to
also be the right default on a large cluster: AQE (runtime re-planning,
skew-join splitting, partition coalescing), Arrow for any pandas
interchange, UTC session timezone (oracle comparisons are tz-naive), and
shuffle partitions sized to the available parallelism instead of the
legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Driver heap default: half of physical RAM, capped at 16g. In
    local mode the driver JVM also runs the executors, and the Python
    workers and off-heap buffers need the other half of the machine."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb // 2)}m"


def get_spark(
    app_name: str = "ecommerce-spark-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster the ``master`` is supplied by spark-submit; we only
    force ``local[N]`` when no master is configured.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime shuffle-partition coalescing, skew-join handling,
        # and broadcast-join conversion from runtime stats. Essential at
        # 100 TB where static estimates are unreliable.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: canChangeCachedPlanOutputPartitioning stays at its false
        # default HERE: letting AQE coalesce under cached frames
        # collapses compute-dense downstream joins onto the cache's
        # (byte-small) partitioning — measured 2.3s → 25s on the PPJoin,
        # whose pair work is quadratic per partition while its cached
        # input is a few MB. Operators whose expensive actions are all
        # internal and cheap-per-row (semdedup) scope the conf locally.
        # Arrow for toPandas / pandas UDF transfer (vectorized, not pickled).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Oracle comparisons (DuckDB) are tz-naive; pin UTC end-to-end.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        # Keep the UI off for headless runs.
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
