"""SparkSession factory with the engine's scale-oriented defaults.

Defaults target a many-executor cluster but are sized for local[N] testing:
AQE on (runtime re-plan + skew-join), Arrow on (all per-doc compute is
pandas-UDF batched), shuffle partitions sized to cores rather than 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(ram_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: ``SPARK_DRIVER_MEM`` when set, else
    half of host RAM clamped to 1-48 GiB. In local mode the driver JVM is
    also the executor; the other half stays with the Python workers that
    run the decode kernels, and with the OS."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    if ram_bytes is None:
        ram_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mib = ram_bytes // 2 // (1 << 20)
    return f"{max(1024, min(48 * 1024, mib))}m"


def get_spark(
    app_name: str = "docling_parse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; a real cluster would use 2-3× total cores. Masters
        # like local[4,2] (N,maxFailures) or local-cluster[2,1,1024] carry
        # commas — parse the leading integer, fall back to cpus (round-4
        # review: int('4,2') raised and killed session creation).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        try:
            shuffle_partitions = cpus if n in ("", "*") else int(n.split(",")[0])
        except ValueError:
            shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bounded Arrow batches = the reference's bounded results queue
        # (backpressure; src/pybind/docling_threaded_base.h:109-112).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
