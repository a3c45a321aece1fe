"""Histogram/distribution operators (SURVEY.md §2.9, H1-H8).

The reference keeps per-entity categorical distributions as
``Map[String,Double]`` and operates on them driver-side
(``/root/reference/src/org/hogzilla/histogram/Histograms.scala``).  Here
each operator is a *map-typed Column expression*: it runs inside
Tungsten on whole columns of histograms at once, so scoring a million
entities is one distributed select, not a million RPCs.

Conventions: a histogram column is ``map<string,double>`` (bucket →
weight); sizes ride in a sibling ``long`` column; EPSILON = 1e-7
(Histograms.scala:16).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EPSILON = 1e-7

def _m(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c

def _get(m: Column, k: Column) -> Column:
    """m[k] with 0.0 default (missing bucket == zero weight)."""
    return F.coalesce(F.element_at(m, k), F.lit(0.0))

# --- H1: Kullback-Leibler divergence (Histograms.scala:18-36) ---------------

def kl_divergence(h1: Column | str, h2: Column | str) -> Column:
    """Σ p·ln(p/q) over the union of keys, with the reference's 0-guards:
    terms where either side is ≤ 0 contribute 0.

    Implemented as a fold over the union key set using higher-order
    functions — stays in codegen, no explode/shuffle.
    """
    h1, h2 = _m(h1), _m(h2)
    union_keys = F.array_distinct(F.concat(F.map_keys(h1), F.map_keys(h2)))
    def term(k: Column) -> Column:
        p = _get(h1, k)
        q = _get(h2, k)
        return F.when((p > 0) & (q > 0), p * F.log(p / q)).otherwise(F.lit(0.0))
    return F.aggregate(
        union_keys, F.lit(0.0), lambda acc, k: acc + term(k)
    )

# --- H2: atypical key set (Histograms.scala:39-82) -------------------------

def atypical_keys(old: Column | str, new: Column | str, eps: float = EPSILON) -> Column:
    """Keys of `new` with weight > ε whose weight in `old` ≤ ε → array<string>.
    ("what this entity is doing now that it never did before")"""
    old, new = _m(old), _m(new)
    return F.map_keys(
        F.map_filter(new, lambda k, v: (v > F.lit(eps)) & (_get(old, k) <= F.lit(eps)))
    )

# --- H4: point typicality tests (Histograms.scala:84-100) -------------------

def is_typical(h: Column | str, key: Column | str, eps: float = EPSILON) -> Column:
    key = F.lit(key) if isinstance(key, str) else key
    return _get(_m(h), key) > F.lit(eps)

def is_atypical(h: Column | str, key: Column | str, eps: float = EPSILON) -> Column:
    key = F.lit(key) if isinstance(key, str) else key
    return _get(_m(h), key) <= F.lit(eps)

# --- H5: weighted merge with decay (Histograms.scala:103-138) ---------------

def merge_histograms(
    old: Column | str,
    old_size: Column | str,
    new: Column | str,
    new_size: Column | str,
    decay_after: int = 1000,
) -> Column:
    """Weighted mean of two distributions.

    weight_k = (old_k·n1' + new_k·n2) / (n1' + n2), where n1' = n1/2 when
    n1 > decay_after (the reference's decay, Histograms.scala:108-110),
    else n1.  Missing keys count as 0 on the missing side.  Returns the
    merged map; compute the new size with :func:`merged_size`.
    """
    old, new = _m(old), _m(new)
    n1 = (F.col(old_size) if isinstance(old_size, str) else old_size).cast("double")
    n2 = (F.col(new_size) if isinstance(new_size, str) else new_size).cast("double")
    n1_eff = F.when(n1 > F.lit(float(decay_after)), n1 / 2).otherwise(n1)
    denom = n1_eff + n2
    union_keys = F.array_distinct(F.concat(F.map_keys(old), F.map_keys(new)))
    entries = F.transform(
        union_keys,
        lambda k: F.struct(
            k.alias("key"),
            ((_get(old, k) * n1_eff + _get(new, k) * n2) / denom).alias("value"),
        ),
    )
    return F.map_from_entries(entries)

def merged_size(
    old_size: Column | str, new_size: Column | str, decay_after: int = 1000
) -> Column:
    """New size after merge: n1/div + n2 (div=2 past the decay point)."""
    n1 = (F.col(old_size) if isinstance(old_size, str) else old_size).cast("long")
    n2 = (F.col(new_size) if isinstance(new_size, str) else new_size).cast("long")
    n1_eff = F.when(n1 > F.lit(decay_after), (n1 / 2).cast("long")).otherwise(n1)
    return n1_eff + n2

def merge_labels(old: Column | str, new: Column | str) -> Column:
    """Union of label maps, old-side precedence (Histograms.scala:131-135)."""
    old, new = _m(old), _m(new)
    return F.map_zip_with(
        F.coalesce(old, F.map_from_arrays(F.array(), F.array())),
        F.coalesce(new, F.map_from_arrays(F.array(), F.array())),
        lambda k, v1, v2: F.coalesce(v1, v2),
    )

# --- H6: pointwise max (Histograms.scala:141-168) ---------------------------

def merge_max(h1: Column | str, h2: Column | str) -> Column:
    """Pointwise maximum of weights (count-valued families, e.g. HIST07)."""
    h1, h2 = _m(h1), _m(h2)
    return F.map_zip_with(
        h1, h2, lambda k, v1, v2: F.greatest(F.coalesce(v1, F.lit(0.0)), F.coalesce(v2, F.lit(0.0)))
    )

# --- builders: group → share-normalized histogram (A6/W1) -------------------

def build_histogram(df, entity_col: str, bucket_col: str, weight_col: str | None = None):
    """Per-entity share-normalized histogram DataFrame:
    (entity, values: map<bucket, share>, size: total observations).

    Equivalent of the reference's in-reduce map-merge + normalize
    (HogSFlow.scala:1401-1423): groupBy(entity, bucket) → count/sum →
    share via a second grouped aggregation.  Two shuffles on the same key
    family; at scale the second agg is map-side-combinable and AQE
    coalesces the tiny reduce side.
    """
    w = F.sum(weight_col).alias("w") if weight_col else F.count("*").cast("double").alias("w")
    per_bucket = df.groupBy(entity_col, bucket_col).agg(w)
    return (
        per_bucket.groupBy(entity_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col(bucket_col).cast("string"), F.col("w")))
            ).alias("raw"),
            F.sum("w").alias("total"),
        )
        .select(
            F.col(entity_col),
            F.map_filter(
                F.transform_values(F.col("raw"), lambda k, v: v / F.col("total")),
                lambda k, v: v.isNotNull(),
            ).alias("values"),
            F.col("total").cast("long").alias("size"),
        )
    )
