"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we would
ship to a 1000-executor cluster: AQE on (runtime coalescing, skew-join
splitting, dynamic broadcast), sensible shuffle partitioning, Arrow for
any pandas exchange.  Nothing here is local-mode-specific except the
master URL, which callers override in production.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _default_driver_memory() -> str:
    """Size the local JVM heap from the machine instead of a fixed 8g.

    local[N] folds N executor slots into ONE JVM: a fixed 8g heap
    models a cluster that gives each executor 256 MB — far below any
    real deployment (2-8 GB/core is standard) — and makes every
    shuffle-heavy aggregation spill-bound and GC-fragile (measured at
    sf10: the exact n-gram self-join spills 24 GB and runs 115 s under
    8g, spills ZERO and runs 79 s under 48g on the same data).  Take
    ~40% of MemAvailable, clamped to [8g, 32g].  The UPPER clamp is
    measured, not cautious: past ~32g the JVM's resident set starts
    crowding the Arrow/pandas kernels that run OUTSIDE the heap (the
    blocked-BLAS embedding scorers lost 2.3× at 49g vs 32g at sf10)
    while buying nothing more on the shuffle side (the sf100
    distinct-count family runs within noise of 49g).  Well under half
    the machine, so the DuckDB oracle twin, pytest workers, or a second
    session never fight the heap; lazily committed, so idle sessions
    stay small.  ``SPARK_DRIVER_MEMORY`` still overrides.
    """
    avail_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemAvailable:"):
                    avail_kb = int(ln.split()[1])
                    break
    except OSError:
        pass
    gb = max(8, min(32, int(avail_kb * 0.4) >> 20))
    return f"{gb}g"

def get_spark(
    app_name: str = "hogzilla_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    Scale notes (100 TB design intent):
      - AQE handles post-shuffle coalescing and skew-join splitting, so a
        static ``shuffle.partitions`` only needs to be an upper bound.
      - ``autoBroadcastJoinThreshold`` stays at default; dimension tables
        (mynets, reputation, signatures) are explicitly ``broadcast()``-ed
        at the call sites so plans do not depend on size estimation.
      - ``files.maxPartitionBytes`` left at 128m: at 100 TB that is ~800k
        input splits, which is what a 1000-executor cluster wants.
      - Parquet sinks write zstd, not Spark's default snappy, and no call
        site sets a codec of its own.  Every state commit rewrites the
        whole store generation, so bytes per commit are what zstd buys,
        at the same write time: a 200k-user HIST20-22 generation in
        join order went 3,137,705 → 1,607,527 bytes (1.19-2.58 s →
        1.12-1.13 s per write) and the same store as seeded went
        2,488,184 → 468,416 bytes (0.98-3.17 s → 0.96-1.23 s), three
        writes each, the first cold, local[2] on a 4-vCPU VM.  Readers
        need nothing: Parquet records the codec per file, so snappy
        files written before still load.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # stage progress bars would interleave with machine-read stdout
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # serialized persist blocks (DISK_ONLY candidate sets, any
        # MEMORY_AND_DISK spillover) compress with lz4: the r12 sf100
        # neardup_ann run persists a billion-row candidate frame to
        # local disk, and uncompressed 24-byte rows are ~3x the
        # footprint for zero read-back benefit.  Shuffle/spill streams
        # were already compressed (spark.shuffle.compress default);
        # this aligns cached blocks with them.
        .config("spark.rdd.compress", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # Verification harnesses (oracle comparisons) collect whole result
    # sets and opt in to a larger cap via SPARK_MAX_RESULT_SIZE; library
    # callers keep Spark's 1g default as a guardrail against accidental
    # large driver collects.
    mrs = os.environ.get("SPARK_MAX_RESULT_SIZE")
    if mrs:
        builder = builder.config("spark.driver.maxResultSize", mrs)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
