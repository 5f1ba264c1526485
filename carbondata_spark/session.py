"""SparkSession factory tuned for this engine.

Local test profile is ``local[N]`` (single JVM); the config choices are the
ones that transfer to a 1000-executor cluster: AQE on (runtime coalesce +
skew-join), Arrow on (fast pandas interchange for the Pandas-UDF operators),
UTC session timezone (oracle comparability), shuffle partitions sized to the
parallelism actually available rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM, in whole GiB (at least 1g).

    In local mode the driver JVM is also the only executor, so its heap
    must leave room for the Python workers and the OS page cache; a heap
    allowed to outgrow physical memory fails by OOM kill, not by spill.
    """
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(1, phys // 2**31)}g"


def get_spark(
    app_name: str = "carbondata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Respects ``SPARK_GRAFT_CPUS`` for local parallelism so the bench driver
    can pin core counts.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
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
        # Per-call Python call-site capture for error context costs 3+
        # py4j round-trips on EVERY DataFrame/Column API call (~75% of
        # the measured plan-construction time of expression-heavy
        # queries); it only enriches error messages, so production
        # sessions run without it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The generated-class cache defaults to 100 entries — a multi-
        # query analytics workload (the bench alone interleaves 14 query
        # shapes x several codegen stages each) thrashes it and pays a
        # fresh Janino compile on nearly every run of every stage.
        # 2000 entries keeps every recurring shape compiled for a few
        # tens of MB of driver metaspace: measured -31% on the headline
        # total (8.27s -> 5.71s at sf0.1), and on a long-lived cluster
        # session it removes per-query driver compile stalls the same
        # way. Scale-independent (keyed on generated source, not data).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        # Parquet write defaults: row groups ≈ reference "blocklets"
        # (BLOCKLET_SIZE_DEFAULT_VAL=120k rows, CarbonCommonConstants.java:182);
        # 128 MiB row groups give comparable scan granularity at our widths.
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # count(*)/min/max from parquet footers without reading data — the
        # Spark-native equivalent of CarbonInputFormat.getRowCount
        # (CarbonInputFormat.java:208-225).
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark has no
        # native type for — read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
