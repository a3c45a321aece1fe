"""Training-mix operators: sessionization (batch + streaming),
stratified sampling, interleave, shard packing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hogzilla_spark.operators.sampling import (
    interleave_mix,
    pack_token_shards,
    portable_hash_unit,
    stratified_sample,
)
from hogzilla_spark.operators.sessions import sessionize

GAP = 1000  # ms

def test_sessionize_gap_edges(spark):
    """session_window merges on diff <= gap (windows touch,
    end-inclusive) and splits on diff > gap — the oracle SQL's
    gaps-and-islands condition must use strict >."""
    rows = [
        ("a", 0), ("a", 999),          # merges (999 <= 1000)
        ("a", 1999),                   # merges too (1999-999 = 1000 <= gap)
        ("a", 3000),                   # 3000-1999 = 1001 > gap → new session
        ("b", 0), ("b", 1001),         # just past the gap → two sessions
        ("c", 5),
    ]
    df = spark.createDataFrame(rows, "k string, t_ms long")
    out = {
        (r.k, r.session_start_ms): (r.session_end_ms, r.n_events)
        for r in sessionize(df, "t_ms", ["k"], gap_ms=GAP).collect()
    }
    assert out[("a", 0)] == (1999, 3)
    assert out[("a", 3000)] == (3000, 1)
    assert out[("b", 0)] == (0, 1)
    assert out[("b", 1001)] == (1001, 1)
    assert out[("c", 5)] == (5, 1)

def test_sessionize_extra_aggs(spark):
    df = spark.createDataFrame(
        [("a", 0, 2.0), ("a", 10, 3.0), ("a", 5000, 9.0)],
        "k string, t_ms long, v double",
    )
    out = {
        r.session_start_ms: r.sum_v
        for r in sessionize(
            df, "t_ms", ["k"], gap_ms=GAP, extra_aggs={"sum_v": F.sum("v")}
        ).collect()
    }
    assert out == {0: 5.0, 5000: 9.0}

def test_stratified_sample_deterministic_and_calibrated(spark):
    n = 4000
    df = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(n)], "id long, s string"
    )
    out1 = stratified_sample(df, "s", {"x": 0.5, "y": 0.1}, "id")
    out2 = stratified_sample(df, "s", {"x": 0.5, "y": 0.1}, "id")
    got1 = {(r.id, r.s) for r in out1.collect()}
    assert got1 == {(r.id, r.s) for r in out2.collect()}  # rerun-stable
    by_s = {s: sum(1 for _, t in got1 if t == s) for s in ("x", "y")}
    assert abs(by_s["x"] / (n / 2) - 0.5) < 0.05
    assert abs(by_s["y"] / (n / 2) - 0.1) < 0.03
    # unknown stratum honors the default fraction
    df2 = spark.createDataFrame([(i, "z") for i in range(100)], "id long, s string")
    assert stratified_sample(df2, "s", {"x": 0.5}, "id").count() == 0
    assert (
        stratified_sample(df2, "s", {"x": 0.5}, "id", default_fraction=1.0).count()
        == 100
    )

def test_portable_hash_unit_range(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    us = [r.u for r in df.select(portable_hash_unit(F.col("id")).alias("u")).collect()]
    assert all(0.0 <= u < 1.0 for u in us)
    assert 0.3 < float(np.mean(us)) < 0.7  # roughly uniform

def test_interleave_mix_ratio(spark):
    rows = [(i, "big" if i < 60 else "small") for i in range(90)]
    df = spark.createDataFrame(rows, "id long, src string")
    out = interleave_mix(df, "src", {"big": 2.0, "small": 1.0}, "id")
    ordered = [r.src for r in out.orderBy("mix_pos", "id").collect()]
    # in any prefix consumed by mix_pos, big ≈ 2× small
    prefix = ordered[:45]
    assert abs(prefix.count("big") - 2 * prefix.count("small")) <= 2

def test_interleave_mix_two_phase_rank(spark):
    """The bucketed two-phase rank must equal the naive per-source
    row_number at ANY bucket count — including counts that split a
    source across many buckets (the 100 TB path) — and the plan must
    not sort a whole source in one window partition."""
    rows = [(i * 7 % 101, "a" if i % 3 else "b") for i in range(101)]
    df = spark.createDataFrame(rows, "id long, src string")
    wide = interleave_mix(df, "src", {"a": 2.0, "b": 1.0}, "id", n_buckets=1)
    narrow = interleave_mix(
        df, "src", {"a": 2.0, "b": 1.0}, "id", n_buckets=16
    )
    assert sorted(map(tuple, wide.collect())) == sorted(
        map(tuple, narrow.collect())
    )
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    # the row-data window partitions on (src, __b), never src alone
    assert "__b" in plan

def test_pack_token_shards_hand_computed(spark):
    rows = [(1, 300), (2, 300), (3, 300), (4, 300)]
    df = spark.createDataFrame(rows, "id long, toks long")
    out = {
        r.id: (r.shard_id, r.shard_offset)
        for r in pack_token_shards(df, "toks", budget=500, order_col="id").collect()
    }
    # exclusive cumsums: 0, 300, 600, 900 → shards 0,0,1,1
    assert out == {1: (0, 0), 2: (0, 300), 3: (1, 600), 4: (1, 900)}
    # partitioned packing restarts the cumsum per group
    df2 = spark.createDataFrame(
        [(1, "a", 400), (2, "a", 400), (1, "b", 400)], "id long, g string, toks long"
    )
    out2 = {
        (r.g, r.id): r.shard_id
        for r in pack_token_shards(
            df2, "toks", budget=500, order_col="id", partition_cols=["g"]
        ).collect()
    }
    assert out2 == {("a", 1): 0, ("a", 2): 0, ("b", 1): 0}
    assert (
        pack_token_shards(df2, "toks", budget=500, order_col="id",
                          partition_cols=["g"])
        .filter(F.col("g") == "a").agg(F.max("shard_offset")).collect()[0][0] == 400
    )

def test_interleave_mix_null_source_and_key_kept(spark):
    """NULL source rows rank in their own group under default_weight;
    NULL keys sort first in their bucket — nothing is silently dropped
    (the equi-join form loses NULL keys without the coalesce)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "a")],
        "id long, src string",
    )
    out = interleave_mix(df, "src", {"a": 2.0}, "id", default_weight=1.0)
    rows = {(r.id, r.src): r.mix_pos for r in out.collect()}
    assert len(rows) == 4                       # all four rows survive
    assert rows[(2, None)] == 1.0               # rank 1 / default 1.0
    assert rows[(None, "a")] == 0.5             # NULL key ranks first in 'a'
    assert rows[(1, "a")] == 1.0 and rows[(3, "a")] == 1.5

def test_interleave_mix_sparse_ids_bounded_buckets(spark):
    """Snowflake-style sparse ids must NOT degenerate to one bucket per
    row: with range-derived buckets the counts table stays ≤ n_buckets
    per source and ranks still match the dense equivalent."""
    ids = [(i * 7919) << 40 for i in range(50)]
    df = spark.createDataFrame(
        [(i, "a") for i in ids], "id long, src string"
    )
    out = interleave_mix(df, "src", {"a": 1.0}, "id", n_buckets=8)
    pos = [r.mix_pos for r in out.orderBy("id").collect()]
    assert pos == [float(i + 1) for i in range(50)]

def test_interleave_mix_full_long_range_no_overflow(spark):
    """Keys spanning the FULL signed-64-bit range (lo near -2^63, hi
    near +2^63): key − lo exceeds 2^63 and silently wraps under plain
    long arithmetic, producing negative non-monotone buckets (some
    colliding with the NULL-key −1 sentinel).  The decimal(38,0)
    DIV bucketing must keep ranks equal to the dense sort order."""
    lo, hi = -(2**63), 2**63 - 1
    ids = sorted(
        {lo, lo + 1, -3, 0, 5, hi - 1, hi, (hi // 3), -(hi // 3)}
    )
    df = spark.createDataFrame([(i, "a") for i in ids], "id long, src string")
    for nb in (1, 4, 65_536):
        out = interleave_mix(df, "src", {"a": 1.0}, "id", n_buckets=nb)
        got = {r.id: r.mix_pos for r in out.collect()}
        assert got == {k: float(r + 1) for r, k in enumerate(ids)}, nb

def test_lm_cross_entropy_hand_computed(spark):
    """Add-1/2-smoothed bigram LM against a hand computation: B/C counts
    from the tiny corpus, V=4, per-position micro-nats rounded before
    the integer sum; sub-2-token docs contribute and receive nothing."""
    import math

    from hogzilla_spark.operators.text import lm_cross_entropy

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_bigrams, r.xent_micro)
        for r in lm_cross_entropy(df).collect()
    }
    k, V = 0.5, 4

    def lp(b, c):
        return round(-math.log((b + k) / (c + k * V)) * 1e6)

    # corpus bigrams: (a,b)x3, (b,a)x1, (b,c)x1 ; contexts: a:3, b:2
    assert out == {
        1: (3, lp(3, 3) + lp(1, 2) + lp(3, 3)),
        2: (2, lp(3, 3) + lp(1, 2)),
    }

def test_lm_cross_entropy_external_ref(spark):
    """Scoring against an external reference corpus: unseen bigrams hit
    the smoothing floor (-ln(k/(0+k*V)) per position via the coalesced
    zero counts) instead of erroring."""
    from hogzilla_spark.operators.text import lm_cross_entropy

    ref = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    docs = spark.createDataFrame([(9, "z q")], "doc_id long, text string")
    row = lm_cross_entropy(docs, ref=ref).collect()[0]
    import math

    V = 2  # ref vocab {a, b}
    assert row.n_bigrams == 1
    assert row.xent_micro == round(-math.log(0.5 / (0 + 0.5 * V)) * 1e6)

# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------

def _dsir_ref(target_texts, raw_docs, m=64, alpha=0.5):
    """Pure-python replica of the operator chain: hashed {uni,bi}gram
    buckets, add-alpha micro-nat log-ratios, per-doc integer weights."""
    import hashlib
    import math

    def grams(text):
        w = [t for t in text.lower().strip().split() if t]
        return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m

    tc, rc = {}, {}
    for t in target_texts:
        for g in grams(t):
            b = bucket(g)
            tc[b] = tc.get(b, 0) + 1
    for _, t in raw_docs:
        for g in grams(t):
            b = bucket(g)
            rc[b] = rc.get(b, 0) + 1
    T, R = sum(tc.values()), sum(rc.values())
    lam = {
        b: round(
            (
                math.log((tc.get(b, 0) + alpha) / (T + alpha * m))
                - math.log((n + alpha) / (R + alpha * m))
            )
            * 1e6
        )
        for b, n in rc.items()
    }
    return lam, {
        i: sum(lam[bucket(g)] for g in grams(t))
        for i, t in raw_docs
        if grams(t)
    }

def test_dsir_weights_hand_computed(spark):
    from hogzilla_spark.operators.sampling import dsir_log_ratio, dsir_weights

    target_texts = ["the cat sat", "the cat ran", "a cat"]
    raw_rows = [
        (1, "the cat sat"),        # target-like
        (2, "zx qy wv"),           # alien vocabulary
        (3, "the cat"),            # partially target-like
        (4, ""),                   # no grams -> no weight row
    ]
    target = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(target_texts)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    lam_ref, w_ref = _dsir_ref(target_texts, raw_rows, m=64)

    lam = dsir_log_ratio(target, raw, n_buckets=64)
    got_lam = {r["__b"]: r["__lam"] for r in lam.collect()}
    assert got_lam == lam_ref

    got_w = {
        r.doc_id: r.logw_micro
        for r in dsir_weights(raw, lam, n_buckets=64).collect()
    }
    assert got_w == w_ref
    assert 4 not in got_w  # empty doc: weight -inf, unselectable
    # the target-like doc must outweigh the alien-vocab doc
    assert got_w[1] > got_w[2]

def test_dsir_weights_unseen_smooth(spark):
    """Scoring a NEW corpus against a pre-fit λ table (the streaming
    case): with the default unseen='drop', grams in unfitted buckets
    vanish and an all-unseen doc gets NO row; with unseen='smooth'
    every unfitted gram contributes the add-α default
    λ₀ = ln(α/(T+αm)) − ln(α/(R+αm)) — exactly what the fit would have
    assigned a zero-count bucket — so every gram-bearing doc scores."""
    import math

    from hogzilla_spark.operators.sampling import dsir_log_ratio, dsir_weights

    m, alpha = 64, 0.5
    target_texts = ["the cat sat", "the cat ran", "a cat"]
    fit_raw = spark.createDataFrame(
        [(1, "the cat sat"), (2, "zx qy wv")], "doc_id long, text string"
    )
    target = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(target_texts)],
        "doc_id long, text string",
    )
    lam = dsir_log_ratio(target, fit_raw, n_buckets=m)
    lam_ref, _ = _dsir_ref(target_texts, [(1, "the cat sat"), (2, "zx qy wv")], m=m)
    T = sum(
        sum(1 for g in _grams_py(t) if True) for t in target_texts
    )  # total target grams
    R = 5 + 5  # both fit docs: 3 unigrams + 2 bigrams each
    lam0 = round(
        (math.log(alpha / (T + alpha * m)) - math.log(alpha / (R + alpha * m)))
        * 1e6
    )

    # 'novel' uses vocabulary the fit never saw; 'mixed' has 3 fitted
    # grams ('the', 'cat', 'the cat') + 2 unfitted ('moo', 'cat moo')
    new_docs = spark.createDataFrame(
        [(10, "novel words here"), (11, "the cat moo")],
        "doc_id long, text string",
    )
    dropped = {
        r.doc_id: r.logw_micro
        for r in dsir_weights(new_docs, lam, n_buckets=m).collect()
    }
    smoothed = {
        r.doc_id: r.logw_micro
        for r in dsir_weights(
            new_docs, lam, n_buckets=m, alpha=alpha, unseen="smooth"
        ).collect()
    }
    assert 10 not in dropped  # all-unseen doc: silently weightless
    assert smoothed[10] == 5 * lam0  # 3 unigrams + 2 bigrams, all λ₀
    assert smoothed[11] == dropped[11] + 2 * lam0
    # fitted buckets score identically either way
    fitted_part = sum(
        lam_ref[b]
        for b in map(_bucket_py(m), ["the", "cat", "the cat"])
    )
    assert dropped[11] == fitted_part

    import pytest

    with pytest.raises(ValueError, match="smooth"):
        dsir_weights(new_docs, lam.select("__b", "__lam"), unseen="smooth")
    with pytest.raises(ValueError, match="unseen"):
        dsir_weights(new_docs, lam, unseen="zap")


def _grams_py(text):
    w = [t for t in text.lower().strip().split() if t]
    return w + [f"{a} {b}" for a, b in zip(w, w[1:])]


def _bucket_py(m):
    import hashlib

    return lambda g: int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m


def test_dsir_select_hardmax_prefers_target_like(spark):
    """gumbel=False: pure top-k by importance weight — the docs sharing
    the target's vocabulary win; ranks are 1..k and deterministic."""
    from hogzilla_spark.operators.sampling import dsir_select

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(4)],
        "doc_id long, text string",
    )
    raw_rows = [(i, "alpha beta gamma") for i in range(5)] + [
        (i, "zz qq ww xx") for i in range(5, 10)
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    out = dsir_select(
        raw, target, k=5, n_buckets=256, gumbel=False
    ).collect()
    assert sorted(r.doc_id for r in out) == [0, 1, 2, 3, 4]
    assert sorted(r.rank for r in out) == [1, 2, 3, 4, 5]
    # identical texts -> identical weights -> rank order = id order
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == [
        0, 1, 2, 3, 4,
    ]

def test_dsir_select_gumbel_deterministic(spark):
    """The Gumbel noise is hash-derived: rerun equals re-read, and the
    score decomposes as logw_micro + round(-ln(-ln(u))*1e6)."""
    import hashlib
    import math

    from hogzilla_spark.operators.sampling import dsir_select

    target = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(i, "alpha beta" if i % 2 else "qq zz") for i in range(20)],
        "doc_id long, text string",
    )
    a = dsir_select(raw, target, k=8, n_buckets=128).collect()
    b = dsir_select(raw, target, k=8, n_buckets=128).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
        g = round(-math.log(-math.log((h + 0.5) / 2**32)) * 1e6)
        assert r.score_micro == r.logw_micro + g

def test_dsir_grams_floor_single_split_scan(spark):
    """The sf0.001 documents file is one unsplittable split; the gram
    frame the DSIR fit and scoring passes explode from it runs on
    every core, like every other spread_small_scan caller."""
    import __spark_entry__ as E
    from hogzilla_spark.operators.sampling import _hashed_grams

    docs = spark.read.parquet(f"{E.SF_DEFAULT}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1
    grams = _hashed_grams(docs, "doc_id", "text", 256)
    assert (
        grams.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
