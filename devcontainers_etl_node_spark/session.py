"""SparkSession factory.

One session, UTC timezone (the reference UTC-normalizes every timestamp,
``src/etl/loaders.py:128-133``), AQE on for runtime re-planning, Arrow on
for the Pandas-UDF extension operators.

Scale notes (100 TB / 1000-executor design stance):
- shuffle partitions are a config knob, not hardcoded; at cluster scale set
  ~2-3x total cores or rely on AQE coalescing (enabled here).
- AQE skew-join handling is enabled so hot keys split automatically.
- maxPartitionBytes left at default 128m — right for large parquet scans.
- the driver heap is sized to the host (:func:`driver_memory`): a heap
  larger than physical RAM lets the JVM grow until the kernel OOM killer
  takes it down mid-run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from devcontainers_etl_node_spark.config import DEFAULT, EngineConfig


_MAX_DRIVER_MB = 48 * 1024
_HEAP_SHARE_OF_RAM = 0.6  # headroom for off-heap, metaspace and Python workers


def driver_memory() -> str:
    """``spark.driver.memory`` for this host: 60% of physical RAM, capped
    at 48g (large hosts keep the 48g heap the scale rungs ran under)."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(_MAX_DRIVER_MB, int(ram * _HEAP_SHARE_OF_RAM) >> 20)}m"


def get_spark(config: EngineConfig | None = None) -> SparkSession:
    cfg = config or DEFAULT
    builder = (
        SparkSession.builder.master(cfg.master)
        .appName(cfg.app_name)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.session.timeZone", cfg.session_timezone)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # JVM unified logging goes to STDOUT by default, so a GC warning
        # (e.g. "[...][warning][gc,alloc] ... GCLocker ...") can interleave
        # with the one-line JSON contract bench.py prints on stdout — the
        # exact failure that made BENCH_r13 unparseable. Route JVM logs to
        # stderr; Spark's own log4j output already goes there.
        .config("spark.driver.extraJavaOptions", "-Xlog:all=warning:stderr:uptime,level,tags")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
