"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; at cluster scale the
same configs hold (AQE, skew-join, UTC session time, Arrow batches). The
shuffle-partition count tracks parallelism so small-SF runs don't pay 200
empty tasks and 100 TB runs can raise it via ``spark.sql.shuffle.partitions``
at submit time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """The driver heap when $SPARK_DRIVER_MEM is unset: 64g, or half the
    host's physical memory if that is smaller. A heap bigger than the host
    grows past it before the collector runs, and the kernel kills the
    JVM."""
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    return f"{min(64 * 2**30, half) // 2**20}m"


def get_spark(
    app_name: str = "cernan_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus or (os.cpu_count() or 8)

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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # quantile sketches (TypedImperativeAggregate) otherwise fall back
        # to sort-based aggregation past 128 in-memory groups — far too
        # conservative for per-(series, bin) sketching
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
        # ContextCleaner frees broadcast/shuffle state via weak refs, i.e.
        # only when the DRIVER GCs — with a large heap and a throughput
        # collector that can be never: repeated jobs in one JVM degraded
        # monotonically (6→34s over 4 identical runs) as torrent blocks and
        # shuffle files piled up. A periodic driver GC bounds the backlog;
        # single-pass cluster jobs are unaffected.
        .config("spark.cleaner.periodicGC.interval", "10s")
    )
    # throughput collector by default: G1's pause-time goal costs ~15% on
    # the allocation-heavy parse stage and degraded N→4N scaling efficiency
    # from 0.86 to 0.72 (BENCH.md). Local mode = driver JVM; on a cluster
    # the executor option carries it. Override with SPARK_GC_OPTS.
    gc_opts = os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC")
    if gc_opts:
        builder = builder.config(
            "spark.driver.extraJavaOptions", gc_opts
        ).config("spark.executor.extraJavaOptions", gc_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
