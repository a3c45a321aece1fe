"""Sort / limit / top-k operators (SURVEY.md §2.6 O1-O2).

Spark plans ``orderBy(...).limit(N)`` as TakeOrderedAndProject — no
global sort materialization, each partition keeps N candidates — which
is exactly the scalable version of the reference's ``sortBy + take``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """O1+O2: global deterministic top-k.  order_by should end with a
    unique tiebreaker for reproducible output sets."""
    return df.orderBy(*order_by).limit(k)
