"""Training-mix assembly operators: deterministic stratified sampling,
weighted source interleaving, token-budget shard packing, and DSIR
importance resampling (target-matched data selection).

These are the operations between "deduped corpus" and "training run":
pick per-stratum fractions, order sources into a mix, cut the stream
into fixed-token-budget shards.  All three are pure DataFrame
expressions (no UDFs, no driver data paths) and deterministic — rerun
equals re-read, which is what makes a 100 TB pipeline auditable.

Hashing is md5-derived and engine-portable (same convention as
operators/dedup.py): Spark ``conv(substring(md5(x),1,8),16,10)`` equals
DuckDB ``CAST('0x'||substr(md5(x),1,8) AS BIGINT)``, so every operator
here is oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window

from pyspark.sql import functions as F

from hogzilla_spark.functions.scalar import round6u
from hogzilla_spark.sources.catalog import release_cut, spread_small_scan

def portable_hash_unit(col: Column) -> Column:
    """Deterministic uniform [0,1) from any column: first 8 md5 hex
    chars / 16^8.  ~4e9 distinct levels — plenty for sampling rates."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(16**8))

def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep each row iff hash_unit(key) < fraction(stratum).

    Deterministic (same key → same decision in every run and on every
    executor: no RNG state, no partition dependence — unlike
    ``df.sample``), and exact-in-expectation per stratum.  The fraction
    lookup is a broadcast join against a literal DataFrame, so adding a
    10k-entry stratum table changes nothing about the plan shape."""
    spark = df.sparkSession
    frac_df = spark.createDataFrame(
        [(k, float(v)) for k, v in fractions.items()],
        f"{strata_col} string, __frac double",
    )
    return (
        df.join(F.broadcast(frac_df), strata_col, "left")
        .withColumn("__frac", F.coalesce("__frac", F.lit(default_fraction)))
        .filter(portable_hash_unit(F.col(key_col)) < F.col("__frac"))
        .drop("__frac")
    )

def interleave_mix(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    key_col: str,
    default_weight: float = 1.0,
    n_buckets: int = 65_536,
) -> DataFrame:
    """Weighted round-robin mix position: the r-th row of a source with
    weight w gets mix_pos = r / w; consuming rows ordered by mix_pos
    yields sources at their weight ratios (smooth interleave, the
    standard data-mixture scheduler), independent of source sizes.

    The per-source rank is computed in two phases so NO window ever
    sees a whole source in one task (a naive
    ``row_number().over(partitionBy(source))`` funnels each source —
    possibly 10s of TB — through a single sort task):

    1. per-(source, key-range-bucket) counts, cumulated to bucket
       offsets with a window over the COUNTS table (≤ `n_buckets` rows
       per source, trivially one task);
    2. rank = bucket offset + row_number within (source, bucket) —
       each window partition holds one bucket's rows.

    Bucket boundaries are derived from the OBSERVED key range (one
    min/max aggregate collected up front): ``width = (max−min+1) /
    n_buckets``.  Value-based ``floor(key / constant)`` would degenerate
    on sparse ids (xxhash64/snowflake keys spread over 2^63 → one
    bucket per row → a corpus-sized counts table and a per-source
    single-task window); range-derived buckets are ≤ `n_buckets`
    regardless of key density.

    NULL handling matches the windowed form this replaced: a NULL
    source ranks within its own group and takes `default_weight`; a
    NULL key sorts first within its bucket (internal join keys are
    null-coalesced — a plain equi-join would silently drop those rows).

    ``key_col`` must be numeric and unique per row (doc ids).  Ranks
    are exact integers, so mix_pos = rank/w is reproducible bit-for-bit
    across engines for power-of-two weights."""
    spark = df.sparkSession
    w_df = spark.createDataFrame(
        [(k, float(v)) for k, v in weights.items()],
        f"{source_col} string, __w double",
    )
    lo, hi = df.agg(F.min(key_col), F.max(key_col)).first()
    if lo is None:  # empty input (or all-NULL keys): single bucket
        lo, hi = 0, 0
    width = max(1, (int(hi) - int(lo) + 1 + n_buckets - 1) // n_buckets)
    # null-coalesced INTERNAL keys: equi-joins drop NULL matches
    src_key = F.coalesce(F.col(source_col).cast("string"), F.lit("\x00null"))
    # key − lo spans up to 2^64−1 when keys cover the full signed-long
    # range (xxhash64/snowflake ids), which silently wraps under 64-bit
    # arithmetic in non-ANSI mode (negative, non-monotone buckets, some
    # colliding with the −1 NULL sentinel).  decimal(38,0) subtraction +
    # integral DIV is overflow-free and exact (no decimal *division*
    # whose scale rounding could flip a floor at the boundary); the
    # result ≤ n_buckets always fits a long.
    bucket = F.coalesce(
        F.expr(
            f"CAST((CAST(`{key_col}` AS DECIMAL(38,0))"
            f" - CAST({int(lo)} AS DECIMAL(38,0)))"
            f" DIV CAST({width} AS DECIMAL(38,0)) AS BIGINT)"
        ),
        F.lit(-1),
    )
    counts = df.groupBy(src_key.alias("__src"), bucket.alias("__b")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_off = (
        Window.partitionBy("__src")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__src",
        "__b",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in_bucket = Window.partitionBy("__src", "__b").orderBy(
        F.col(key_col).asc_nulls_first()
    )
    return (
        df.withColumn("__src", src_key)
        .withColumn("__b", bucket)
        .join(F.broadcast(offsets), ["__src", "__b"])
        .join(F.broadcast(w_df), source_col, "left")
        .withColumn("__w", F.coalesce("__w", F.lit(default_weight)))
        .withColumn(
            "mix_pos",
            # round6u: int/weight ratio — the engine-divergent value
            # class at exact decimal halves (functions/scalar.round6u)
            round6u(
                (F.col("__off") + F.row_number().over(w_in_bucket))
                / F.col("__w")
            ),
        )
        .drop("__src", "__b", "__off", "__w")
    )

def pack_token_shards(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Assign each document to a contiguous token-budget shard:
    shard_id = floor(exclusive_cumsum(tokens) / budget) over a
    deterministic order.

    Shards are contiguous token ranges, so shard boundaries may split
    the budget mid-document (a doc can straddle two budgets' worth of
    offset); semantics chosen because they are order-stable, exactly
    reproducible, and expressible as ONE window cumsum — the greedy
    "close shard when full" variant is inherently sequential and buys
    <1 doc of per-shard slack at corpus scale.

    At scale ALWAYS pass ``partition_cols`` (each group packs
    independently — language, source, ...); a global ordering funnels
    the cumsum through one window partition, fine only for bounded
    frames."""
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(order_col)
    else:
        w = Window.orderBy(order_col)
    cum_excl = F.coalesce(
        F.sum(token_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return df.withColumn(
        "shard_id", F.floor(cum_excl / F.lit(budget)).cast("long")
    ).withColumn("shard_offset", cum_excl.cast("long"))

# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al., NeurIPS
# 2023, arXiv:2302.03169).  Select raw-corpus documents whose hashed
# n-gram distribution matches a target (quality) corpus: fit bag-of-
# hashed-{uni,bi}gram multinomials p̂ (target) and q̂ (raw), weight each
# raw doc by log p̂(doc) − log q̂(doc), then Gumbel-top-k resample.
#
# Engine-exact by construction: per-bucket log-ratios round to integer
# micro-nats BEFORE the per-doc sum (the lm_cross_entropy trick — double
# SUM order is engine-dependent, integer SUM is not), the hash bucket is
# the md5-first-8-hex convention shared with the dedup family, and the
# Gumbel noise derives from that same hash (u = (h+0.5)/2^32 — exactly
# representable, never 0 or 1), so selection is deterministic and
# replayable bit-for-bit in any engine: rerun equals re-read.
#
# Scale shape (100 TB): the fit is two map-side-combining groupBys onto
# ≤ n_buckets rows each; the λ table is O(n_buckets) and BROADCAST into
# the scoring pass, which is one explode → broadcast-join → groupBy(doc)
# shuffle with map-side combine on doc id; selection is a global top-k
# (TakeOrderedAndProject — no full sort).  The raw corpus text is
# scanned twice (fit pass + score pass), exactly the paper's pipeline;
# persist the gram frame between passes if the scan dominates.
# ---------------------------------------------------------------------------

def _hashed_grams(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(id, __b): one row per unigram AND space-joined-bigram occurrence
    of the lowercased whitespace tokenization (the text family's shared
    convention), bucketed by md5-first-8-hex % n_buckets."""
    from hogzilla_spark.operators.text import tokens

    toks = tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    # the tokenize+bigram explode is the heavy per-row stage, built three
    # times per dsir_select call.  On local[4] the plain floor ran
    # q_dsir_select as fast as a byte-gated one or faster at sf0.1 and
    # sf1, and 1.6x faster than no floor at sf1 (single-split scans).
    d = spread_small_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), toks.alias("__w")
    )
    # ONE explode over unigrams ++ bigrams: a union of two explodes
    # tokenizes every document twice, and this frame is built three
    # times per dsir_select call (fit target, fit raw, score raw)
    bigrams = F.when(
        F.size("__w") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__w") - 2),
            lambda i: F.concat(
                F.get("__w", i), F.lit(" "), F.get("__w", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    b = F.pmod(
        F.conv(F.substring(F.md5("__g"), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    return d.select(
        F.col(id_col), F.explode(F.concat("__w", bigrams)).alias("__g")
    ).select(id_col, b.alias("__b"))

def dsir_log_ratio(
    target: DataFrame,
    raw: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 65_536,
    alpha: float = 0.5,
) -> DataFrame:
    """Fit the DSIR importance model: per-bucket integer-micro-nat
    log-likelihood ratio λ[b] = round(1e6·(ln p̂[b] − ln q̂[b]))
    under add-α smoothing, for every bucket OBSERVED IN RAW (the only
    buckets a raw doc can score on; target-only buckets are irrelevant
    to scoring and absent-everywhere buckets contribute a constant the
    top-k is invariant to).

    Returns (__b, __tc, __rc, __lam, __t_tot, __r_tot) — ≤ n_buckets
    rows, eagerly localCheckpoint'ed so the two corpus scans behind it
    never re-run when the table is broadcast into scoring.  The two
    grand totals are O(1) driver scalars (same class as the my-nets
    collects); they ride along as constant columns so a scoring pass
    over a DIFFERENT corpus (streaming ingest) can reconstruct the
    smoothed λ for buckets this fit never observed."""
    tb = (
        _hashed_grams(target, id_col, text_col, n_buckets)
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__tc"))
        .localCheckpoint(eager=True)
    )
    rb = (
        _hashed_grams(raw, id_col, text_col, n_buckets)
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__rc"))
        .localCheckpoint(eager=True)
    )
    t_tot = tb.agg(F.sum("__tc")).first()[0] or 0
    r_tot = rb.agg(F.sum("__rc")).first()[0] or 0
    lam = (
        F.round(
            (
                F.log(
                    (F.coalesce("__tc", F.lit(0)) + F.lit(alpha))
                    / F.lit(float(t_tot) + alpha * n_buckets)
                )
                - F.log(
                    (F.col("__rc") + F.lit(alpha))
                    / F.lit(float(r_tot) + alpha * n_buckets)
                )
            )
            * 1e6
        )
        .cast("long")
        .alias("__lam")
    )
    out = (
        rb.join(tb, "__b", "left")
        .select(
            "__b",
            F.coalesce("__tc", F.lit(0)).alias("__tc"),
            "__rc",
            lam,
            F.lit(int(t_tot)).alias("__t_tot"),
            F.lit(int(r_tot)).alias("__r_tot"),
        )
        .localCheckpoint(eager=True)
    )
    release_cut(tb)
    release_cut(rb)
    return out

def dsir_weights(
    raw: DataFrame,
    log_ratio: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 65_536,
    alpha: float = 0.5,
    unseen: str = "drop",
) -> DataFrame:
    """(id, logw_micro): per-doc importance log-weight = Σ over gram
    occurrences of λ_micro — an exact integer sum.  One explode →
    broadcast λ join → groupBy(id) with map-side combine.  Docs with no
    grams (empty text) produce no row: they carry weight −∞ and are
    never selected.

    ``unseen`` governs grams hashing to buckets ABSENT from the fitted
    λ table (impossible when scoring the same corpus the fit saw, the
    batch `dsir_select` case; routine when scoring NEW docs against a
    pre-fit table, the streaming-ingest case):

      - "drop" (default, exact batch semantics): such grams contribute
        nothing, and a doc whose grams ALL land in unfitted buckets
        gets no row at all (same −∞ class as empty text);
      - "smooth": left-join with the add-α default
        λ₀ = ln(α/(t_tot+αB)) − ln(α/(r_tot+αB)) — exactly what the
        fit would have produced for a (0, 0)-count bucket — so every
        gram-bearing doc always gets a finite weight.  Requires the
        grand-total columns `dsir_log_ratio` emits; ``alpha`` must
        match the fit's.
    """
    lam = F.broadcast(log_ratio.select("__b", "__lam"))
    grams = _hashed_grams(raw, id_col, text_col, n_buckets)
    if unseen == "smooth":
        if "__t_tot" not in log_ratio.columns:
            raise ValueError(
                "unseen='smooth' needs the __t_tot/__r_tot columns — "
                "re-fit with dsir_log_ratio"
            )
        tot = log_ratio.select("__t_tot", "__r_tot").first()
        import math

        lam0 = round(
            (
                math.log(alpha / (tot["__t_tot"] + alpha * n_buckets))
                - math.log(alpha / (tot["__r_tot"] + alpha * n_buckets))
            )
            * 1e6
        )
        joined = grams.join(lam, "__b", "left").select(
            id_col, F.coalesce("__lam", F.lit(lam0)).alias("__lam")
        )
    elif unseen == "drop":
        joined = grams.join(lam, "__b")
    else:
        raise ValueError(f"unseen must be 'drop' or 'smooth', got {unseen!r}")
    return joined.groupBy(id_col).agg(F.sum("__lam").alias("logw_micro"))

def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 65_536,
    alpha: float = 0.5,
    gumbel: bool = True,
    log_ratio: DataFrame | None = None,
) -> DataFrame:
    """Gumbel-top-k importance resampling: score = logw_micro +
    round(1e6·(−ln(−ln u))) with u = (md5_32(id)+0.5)/2^32 — i.e. a
    WITHOUT-replacement sample ∝ exp(logw), the paper's resampling
    step, made deterministic by deriving the uniform from the doc id
    (same convention as `stratified_sample`).  ``gumbel=False`` gives
    the plain hardmax top-k variant.

    Returns (id, logw_micro, score_micro, rank) for the k selected
    docs; rank 1 = highest score.  The top-k runs as
    TakeOrderedAndProject (orderBy+limit) — never a global sort — and
    the rank window touches only the k survivors."""
    if log_ratio is None:
        log_ratio = dsir_log_ratio(
            target, raw, id_col, text_col, n_buckets, alpha
        )
    w = dsir_weights(raw, log_ratio, id_col, text_col, n_buckets)
    idc = F.col(id_col)
    if gumbel:
        u = (
            F.conv(F.substring(F.md5(idc.cast("string")), 1, 8), 16, 10)
            .cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 32))
        score = F.col("logw_micro") + F.round(-F.log(-F.log(u)) * 1e6).cast(
            "long"
        )
    else:
        score = F.col("logw_micro").cast("long")
    sel = (
        w.select(idc, "logw_micro", score.alias("score_micro"))
        .orderBy(F.desc("score_micro"), idc)
        .limit(k)
    )
    rk = Window.orderBy(F.desc("score_micro"), idc)
    return sel.withColumn("rank", F.row_number().over(rk).cast("long"))
