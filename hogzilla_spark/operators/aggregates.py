"""Aggregation operators (SURVEY.md §2.4 A3-A12).

Each helper returns a DataFrame plan; Catalyst compiles them to
partial+final hash aggregates (map-side combine for free).  At 100 TB
the two-level rollups deliberately re-key on a subset of the previous
key so the second shuffle moves only pre-aggregated rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def two_level_rollup(
    df: DataFrame,
    level1_keys: list[str],
    level2_keys: list[str],
    aggs: dict[str, Column],
    pair_count_col: str = "pairs",
) -> DataFrame:
    """A3: per-pair rollup then per-host pair count.

    Level 1 groups by ``level1_keys`` summing the metrics; level 2
    re-keys on ``level2_keys`` (a subset) and additionally counts the
    level-1 groups — the reference's "sum of 1L per pair" idiom
    (HogSFlow.scala:1162-1187).
    """
    lvl1 = df.groupBy(*level1_keys).agg(*[c.alias(n) for n, c in aggs.items()])
    lvl2_aggs = [F.sum(n).alias(n) for n in aggs] + [
        F.count(F.lit(1)).alias(pair_count_col)
    ]
    return lvl1.groupBy(*level2_keys).agg(*lvl2_aggs)

def distinct_count_per_group(
    df: DataFrame, keys: list[str], value_col: str, out_col: str = "n_distinct"
) -> DataFrame:
    """A5: countDistinct per group (distinct ports per host etc.)."""
    return df.groupBy(*keys).agg(F.countDistinct(value_col).alias(out_col))
