"""Window-form computations (SURVEY.md §2.5 W1-W4, A14).

The reference computes these imperatively inside reduces; here they are
Spark window functions / grouped higher-order expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def group_share(df: DataFrame, part_cols: list[str], weight_col: str) -> Column:
    """W1: weight / sum(weight) over the partition (per-group share,
    HogSFlow.scala:1420-1423)."""
    w = Window.partitionBy(*part_cols)
    return F.col(weight_col) / F.sum(weight_col).over(w)

def top_n_per_group(
    df: DataFrame,
    part_cols: list[str],
    order_by: list[Column],
    n: int,
    rank_col: str = "rn",
) -> DataFrame:
    """W2: deterministic top-N rows per group via row_number.  Callers must
    include a unique tiebreaker in order_by for reproducible goldens
    (SURVEY.md §4 item 5)."""
    w = Window.partitionBy(*part_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
        .drop(rank_col)
    )

def interarrival_stats(
    df: DataFrame,
    part_cols: list[str],
    time_col: str,
    tiebreak_col: str,
    drop_largest: int = 4,
) -> DataFrame:
    """A14/W3: per-group mean inter-arrival time after dropping the
    `drop_largest` biggest gaps — the generalized window form of the
    reference's DDoS regularity test.

    Parameterization note: the reference (HogSFlow.scala:2695-2722)
    sorts the n begin-times, takes the n−1 adjacent diffs, and keeps
    the n−4 SMALLEST — i.e. it drops the 3 largest diffs and divides
    by n−4.  This operator's knob counts dropped DIFFS, so the exact
    reference semantics would be drop_largest=3 (and a n>6 group-size
    gate); the bit-exact reference variant, including its n−4 divisor,
    lives in detectors/sflow.py (the ddos rule, oracle-replayed by
    hz_stateless_suite 'ddos').  The drop_largest=4 registry entry
    (a14_interarrival) is the generalized operator under its own
    oracle, not a claim about the reference constant.

    Returns (part_cols..., n_gaps, mean_interarrival).  Window lag + a
    second ranking window; one shuffle on part_cols reused by both
    windows.
    """
    w_ord = Window.partitionBy(*part_cols).orderBy(F.col(time_col), F.col(tiebreak_col))
    diffs = df.select(
        *part_cols,
        (F.col(time_col) - F.lag(time_col).over(w_ord)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    w_rank = Window.partitionBy(*part_cols).orderBy(
        F.col("gap").desc(), F.monotonically_increasing_id()
    )
    kept = diffs.withColumn("rk", F.row_number().over(w_rank)).filter(
        F.col("rk") > drop_largest
    )
    return kept.groupBy(*part_cols).agg(
        F.count("*").alias("n_gaps"),
        F.avg("gap").alias("mean_interarrival"),
    )
