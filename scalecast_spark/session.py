"""SparkSession factory tuned for this engine.

Defaults follow the large-cluster posture (AQE on, Arrow on, UTC,
sane shuffle partitioning); local test runs override cores via
SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(app_name: str = "scalecast_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    On a real cluster the master/memory come from spark-submit; the
    local fallback uses ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", "") else max(int(cpus), 1)
    # local mode puts all task threads in the DRIVER JVM, whose Spark
    # default heap is 1g — 32 concurrent tasks on 1g is a GC collapse
    # (observed: GCLocker retry storms on array-heavy stages). On a
    # real cluster spark-submit sets executor memory instead.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _local_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # hot keys (shared shingles, skewed event types) re-split at
        # runtime instead of stalling one reducer
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); read as
        # long and convert in the source adapter (loaders.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER"):  # pragma: no branch - local dev/test
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _local_driver_mem() -> str:
    """Default driver heap: 16g, capped at 60% of physical RAM.

    With a max heap as large as the host's RAM, the JVM keeps growing
    its heap instead of collecting harder, so a long-lived local session
    (a test suite that caches many frames) grows the JVM until the
    kernel OOM-kills it; every later call then fails with
    ConnectionRefusedError on the gateway. The rest of RAM stays for
    the JVM's off-heap memory (the full test suite peaked at ~2 GB
    resident above a 9.6 GB heap), the Python driver and the workers."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{max(1024, min(16384, int(ram_mb * 0.6)))}m"
