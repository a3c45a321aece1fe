"""Join operators (SURVEY.md §2.3).

Every reference "join" is a broadcast membership test against a small
dimension set (J1-J9; the reference performs no RDD join() at all).  The
engine expresses them as real Spark joins so Catalyst can pick broadcast
hash / nested-loop strategies and so they keep working when the
"small" side stops being small.
"""

from bisect import bisect_right

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

def anti_join(left: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """J1/J2/J6: exclude rows whose key appears in the (small) dim table.
    Broadcast left-anti — no shuffle of the big side."""
    return left.join(broadcast(dim.select(*on).distinct()), on=on, how="left_anti")

def semi_join(left: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """Membership keep-side: broadcast left-semi."""
    return left.join(broadcast(dim.select(*on).distinct()), on=on, how="left_semi")

def lookup_join(left: DataFrame, dim: DataFrame, on: list[str], how: str = "inner") -> DataFrame:
    """J5: enrich rows from a small dimension (broadcast hash join)."""
    return left.join(broadcast(dim), on=on, how=how)

# --- J3/P6: prefix-match membership ----------------------------------------

def prefix_match_col(ip: Column | str, prefixes: list[str]) -> Column:
    """Broadcast sorted-prefix membership test as a vectorized expression.

    The reference does ``TreeSet.from(prefix).takeWhile(_.startsWith(...))``
    per row against an in-heap set (HogSFlow.scala:2770-2781).  A naive
    Spark translation is an O(rows × prefixes) nested loop.  For small
    prefix lists (≲64) an OR-chain of ``startswith`` stays in codegen and
    is fastest; for big blacklists we bisect a broadcast sorted list
    inside an Arrow-batched pandas UDF — O(rows · log prefixes).
    """
    ip = F.col(ip) if isinstance(ip, str) else ip
    prefixes = sorted(set(prefixes))
    if len(prefixes) <= 64:
        if not prefixes:
            return F.lit(False)
        out = ip.startswith(prefixes[0])
        for p in prefixes[1:]:
            out = out | ip.startswith(p)
        return out

    @pandas_udf("boolean")
    def _match(s: pd.Series) -> pd.Series:
        def hit(v: str) -> bool:
            if v is None:
                return False
            i = bisect_right(prefixes, v)
            # candidate prefixes sort immediately at/before v
            return i > 0 and v.startswith(prefixes[i - 1])
        return s.map(hit)

    return _match(ip)
