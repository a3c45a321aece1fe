"""Table catalog: schema-enforced reads and the scan-parallelism floor.

The reference reads everything from HBase region scans; the engine's
storage contract is columnar tables with the typed schemas of
`schemas.py`.  :func:`read_table` applies a table's schema at read
time, so a missing or mistyped column surfaces at the scan instead of
at first use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hogzilla_spark.schemas import ALL_TABLES

def read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Parquet read of engine table `name` under its catalog schema (a
    mistyped column fails at the scan instead of at first use)."""
    return spark.read.schema(ALL_TABLES[name]).parquet(path)

def release_cut(df: DataFrame) -> None:
    """Unpersist the RDD behind a frame cut by ``localCheckpoint``.
    ``DataFrame.unpersist`` does not reach it: the cut is a
    ``LogicalRDD`` over a persisted RDD, not a cache entry.  Call it
    only once every frame that reads the cut is itself materialized."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)

def spread_small_scan(df: DataFrame) -> DataFrame:
    """Parallelism floor for a heavy per-row stage pipelined into a scan.

    Such a stage inherits the scan's split count, and a small
    single-row-group Parquet file is unsplittable, as is a small shuffle
    that AQE coalesces to one partition: the whole stage would run on
    one core.  A frame with fewer partitions than the session's default
    parallelism is round-robin repartitioned to it (the payload is small
    by construction); any other frame is returned unchanged, so at scale
    this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
