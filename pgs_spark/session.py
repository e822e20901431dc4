"""SparkSession factory with scale-appropriate defaults.

Local mode is for correctness/bench only; every config here is also what we
would set on a real multi-executor cluster (AQE, skew-join handling, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "pgs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    AQE is on (runtime coalescing + skew-join splitting); Arrow is on for the
    ``mapInPandas`` stages of ``multimodal`` and ``pairs`` (extraction runs no
    Python); timezone pinned UTC so DuckDB oracle comparisons are stable.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("PGS_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    local_dir = os.environ.get("PGS_SPARK_LOCAL_DIR")
    if local_dir:
        # Sandbox scaling runs put shuffle spill on tmpfs: a single local disk
        # serializes shuffle I/O across cores, which a real cluster's
        # per-executor disks/network do not.
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_bytes(spark: SparkSession) -> tuple[int, int]:
    """Cumulative (shuffle_write, shuffle_read) bytes across executors, from
    the app status store. Iterative operators record the per-superstep DELTA
    in their manifests — the "shuffle bytes" iteration metric of the north
    rule. Returns (0, 0) if the store is unreachable (never fails a job)."""
    try:
        ex_list = spark.sparkContext._jsc.sc().statusStore().executorList(True)
        w = r = 0
        for i in range(ex_list.size()):
            e = ex_list.apply(i)
            w += e.totalShuffleWrite()
            r += e.totalShuffleRead()
        return int(w), int(r)
    except Exception:
        return 0, 0
