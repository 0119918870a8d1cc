"""SparkSession factory tuned for the frontier/parse workload.

Local mode is the test substrate; the configs are chosen so the same
plans scale to a multi-executor cluster (AQE on, explicit shuffle
partition counts, Arrow batches sized for wide ``text`` rows).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(phys_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: half of physical RAM, between
    1 and 48 GB. In local mode the driver JVM is the whole cluster, so
    a fixed large heap on a small box lets it grow until the kernel
    OOM-kills it; the other half is left to the Python workers.
    ``phys_bytes`` defaults to the RAM of the host running the driver."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, phys_bytes // 2**31))}g"


def get_spark(
    app_name: str = "wos_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores``: local[N] parallelism; defaults to $SPARK_GRAFT_CPUS or all.
    ``shuffle_partitions`` defaults to the core count — at cluster scale
    this would be ~2-3x total executor cores instead.
    The driver heap is $SPARK_GRAFT_DRIVER_MEM, else ``driver_memory()``;
    ``extra_conf`` entries override every setting here.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pages.text rows are whole WoS export payloads (KBs each):
        # keep Arrow batches modest so pandas UDF memory stays bounded.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Politeness partitions are intentionally ordered; speculative
        # duplicates would violate the per-host rate contract (SURVEY §4).
        .config("spark.speculation", "false")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
