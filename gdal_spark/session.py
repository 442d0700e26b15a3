"""SparkSession factory tuned for the engine.

Local-mode testing runs on local[N]; the configs below are the ones that
matter at cluster scale too (AQE, skew-join handling, Arrow batching).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem(cap_gb: int = 48, frac: float = 0.6) -> str:
    """min(48g, ~60% of MemTotal) so smaller hosts don't OOM-kill the
    local-mode JVM; SPARK_GRAFT_DRIVER_MEM overrides."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(cap_gb, int(total_gb * frac)))}g"
    except OSError:
        pass
    return "8g"


def get_session(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    AQE is on (runtime coalesce + skew-join split — our answer to dense
    cells; salting was measured and removed, BENCH/SKEW.md), Arrow is on
    (every pixel/geometry kernel crosses via Arrow batches), session TZ
    pinned to UTC so DuckDB-oracle comparisons are stable.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus and cpus.isdigit():
            shuffle_partitions = int(cpus)
        elif master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # local mode: the driver JVM hosts every task thread + shuffle
        # blocks, so an undersized heap turns N-way parallelism into GC
        # contention (measured: local[32] slower than local[8] at 8g)
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
