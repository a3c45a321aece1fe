"""Join / window / aggregate / dedup / similarity operator tests."""

import hashlib
import os

import pyspark.sql.functions as F
import pytest

from hogzilla_spark.operators import aggregates as AGG
from hogzilla_spark.operators import dedup as DD
from hogzilla_spark.operators import joins as J
from hogzilla_spark.operators import similarity as SIM
from hogzilla_spark.operators import text as TXT
from hogzilla_spark.operators import windows as W

def test_prefix_match_small_list(spark):
    df = spark.createDataFrame(
        [("10.1.2.3",), ("192.168.0.1",), ("10.20.0.1",)], "ip string"
    )
    got = df.filter(J.prefix_match_col("ip", ["10.1.", "192."])).count()
    assert got == 2

def test_prefix_match_large_list_bisect(spark):
    # >64 prefixes → pandas-UDF bisect path
    prefixes = [f"172.{i}." for i in range(100)] + ["10.1."]
    df = spark.createDataFrame(
        [("10.1.2.3",), ("172.50.1.1",), ("8.8.8.8",), (None,)], "ip string"
    )
    got = df.filter(J.prefix_match_col("ip", prefixes)).count()
    assert got == 2

def test_anti_and_semi_join(spark):
    big = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k int, v string")
    dim = spark.createDataFrame([(2,)], "k int")
    assert J.anti_join(big, dim, ["k"]).count() == 2
    assert J.semi_join(big, dim, ["k"]).count() == 1

def test_interarrival_drop_largest(spark):
    # times 0,10,20,30,1000 → gaps 10,10,10,970; drop 1 largest → mean 10
    rows = [("u", t, i) for i, t in enumerate([0, 10, 20, 30, 1000])]
    df = spark.createDataFrame(rows, "k string, t long, id long")
    out = W.interarrival_stats(df, ["k"], "t", "id", drop_largest=1).collect()[0]
    assert out.n_gaps == 3 and out.mean_interarrival == pytest.approx(10.0)

def test_top_n_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [("g", 5, 1), ("g", 5, 2), ("g", 3, 3)], "g string, v int, id int"
    )
    got = W.top_n_per_group(df, ["g"], [F.col("v").desc(), F.col("id")], 2).collect()
    assert [(r.v, r.id) for r in got] == [(5, 1), (5, 2)]

def test_two_level_rollup_pair_count(spark):
    df = spark.createDataFrame(
        [("h1", "a", 10), ("h1", "a", 5), ("h1", "b", 1), ("h2", "c", 7)],
        "myIP string, alienIP string, b long",
    )
    out = {
        r.myIP: (r.bytes, r.pairs)
        for r in AGG.two_level_rollup(
            df, ["myIP", "alienIP"], ["myIP"], {"bytes": F.sum("b")}
        ).collect()
    }
    assert out == {"h1": (16, 2), "h2": (7, 1)}

def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in DD.dedup_exact(df).collect())
    assert kept == [1, 3]  # 2 is a normalized dup of 1

def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely unrelated text about spark query engines and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = DD.minhash_lsh_pairs(df, min_jaccard=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.6

def test_dedup_eager_pair_sets_still_materialize(spark):
    """q_dedup_minhash-class wins depend on the pair set materializing
    at EVERY size: the returned frame must not re-run the LSH self-join
    per consumer."""
    import __spark_entry__ as E

    docs = spark.read.parquet(f"{E.SF_DEFAULT}/documents.parquet")
    out = DD.minhash_lsh_pairs(docs, min_jaccard=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Exchange" not in plan

def test_simhash_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely unrelated text about spark query engines and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = DD.simhash_pairs(df, max_hamming=3).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]

def test_simhash_width_guard(spark):
    """width="auto" keeps 64-bit under SIMHASH_W64_MAX_DOCS and
    dispatches to the 128-bit plan above it (the sf100 disk-filler
    guard); explicit widths are honored; a 64-bit signature table
    cannot be silently widened; 128-bit signature tables feed the
    64-bit path via their (w0, w1); pigeonhole bounds raise.  The
    64-bit pair set {(1, 2, 2)} is the retired 64-bit signature
    kernel's output on these docs, frozen when it was deleted."""
    import pytest

    base = " ".join(
        "the quick brown fox jumps over the lazy dog again and again today".split() * 4
    )
    near = base + " extra trailing tokens here"
    other = "completely unrelated text about spark query engines and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    # under the threshold auto == the 64-bit plan, bit for bit
    auto = {(p.id_a, p.id_b, p.hamming) for p in DD.simhash_pairs(df).collect()}
    w64 = {
        (p.id_a, p.id_b, p.hamming)
        for p in DD.simhash_pairs(df, width=64).collect()
    }
    assert auto == w64 == {(1, 2, 2)}
    # above the threshold auto == the 128-bit plan (shrink the
    # threshold rather than build a million-row frame)
    orig = DD.SIMHASH_W64_MAX_DOCS
    try:
        DD.SIMHASH_W64_MAX_DOCS = 2
        auto_big = {
            (p.id_a, p.id_b, p.hamming) for p in DD.simhash_pairs(df).collect()
        }
    finally:
        DD.SIMHASH_W64_MAX_DOCS = orig
    w128 = {
        (p.id_a, p.id_b, p.hamming)
        for p in DD.simhash128_pairs(df).collect()
    }
    assert auto_big == w128
    # a persisted 128-bit signature table serves both widths
    sigs128 = DD.simhash128_sigs_kernel(df)
    assert {
        (p.id_a, p.id_b, p.hamming)
        for p in DD.simhash_pairs(df, width=64, sigs=sigs128).collect()
    } == w64
    # but a 64-bit table cannot be widened
    sigs64 = sigs128.select("id", F.col("w0").alias("hi"), F.col("w1").alias("lo"))
    with pytest.raises(ValueError, match="cannot be widened"):
        DD.simhash_pairs(df, width=128, sigs=sigs64)
    with pytest.raises(ValueError, match="width"):
        DD.simhash_pairs(df, width=96)
    # the pigeonhole needs max_hamming < blocks (4 word-blocks at 128)
    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_pairs(df, width=64, max_hamming=4, blocks=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash128_pairs(df, max_hamming=4)

def test_simhash128_hamming(spark):
    """The 128-bit variant finds a genuine hamming<=3 near-dup (a doc
    with a few appended tokens) and rejects the unrelated doc.  (A
    one-word substitution in a short doc lands at hamming ~6 over 128
    bits — correctly OUTSIDE the 4-block pigeonhole guarantee; 128 bits
    is a finer instrument than 64, so the same edit costs more bits.)"""
    base = " ".join(
        "the quick brown fox jumps over the lazy dog again and again today".split() * 4
    )
    near = base + " extra trailing tokens here"  # hamming 2 over 128 bits
    other = "completely unrelated text about spark query engines and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = DD.simhash128_pairs(df, max_hamming=3).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert 0 < pairs[0].hamming <= 3

def test_simhash128_ground_truth(spark):
    """All four words against a sequential hashlib reference."""
    import hashlib

    docs = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.id: (r.w0, r.w1, r.w2, r.w3)
        for r in DD.simhash128_sigs_kernel(df).collect()
    }

    def expect(text):
        toks = [t for t in text.strip().lower().split() if t]
        hx = [hashlib.md5(t.encode()).hexdigest() for t in toks]
        out = []
        for off in (0, 8, 16, 24):
            vals = [int(h[off : off + 8], 16) for h in hx]
            sig = 0
            for j in range(32):
                votes = sum(1 if (v >> j) & 1 else -1 for v in vals)
                if votes > 0:
                    sig |= 1 << j
            out.append(sig)
        return tuple(out)

    assert got == {i: expect(t) for i, t in docs}

def test_knn_self_consistency(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = SIM.knn_brute_force(df, df.filter(F.col("vec_id") == 1), k=2)
    got = [(r.neighbor_id, r.rank) for r in out.collect()]
    assert got[0] == (2, 1)  # nearest is the 0.9/0.1 vector

def test_label_centroids_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0]),
            (0, [3.0, 6.0]),
            (1, [10.0, 0.0]),
        ],
        "label int, embedding array<float>",
    )
    got = {
        (r.label, r.dim): (r.mean, r.n)
        for r in SIM.label_centroids(df).collect()
    }
    assert got == {
        (0, 0): (2.0, 2), (0, 1): (4.0, 2),
        (1, 0): (10.0, 1), (1, 1): (0.0, 1),
    }

def test_text_quality_and_lang(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it was that good for all of the")],
        "doc_id long, text string",
    )
    r = TXT.text_profile(df).collect()[0]
    assert r.n_tokens == 15
    assert r.lang_pred == "en"
    assert 0.0 <= r.quality <= 1.0
    assert r.stopword_ratio > 0.4
    with pytest.raises(ValueError):
        TXT.text_profile(df.drop("doc_id"))

def test_text_profile_duplicate_ids(spark):
    """The keyed fast path must give correct PER-ROW profiles even when
    doc_id is not unique (stats are keyed by text hash, not id)."""
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (1, "completely different words entirely here now"),  # same id!
            (1, "the cat sat on the mat"),                        # full dup row
            (2, "the cat sat on the mat"),
        ],
        "doc_id long, text string",
    )
    rows = TXT.text_profile(df).collect()
    assert len(rows) == 4  # no join fan-out, no row loss
    by_text = {}
    for r in rows:
        by_text.setdefault(r.text, []).append(r)
    cat_rows = by_text["the cat sat on the mat"]
    assert len(cat_rows) == 3
    assert all(r.n_tokens == 6 for r in cat_rows)
    assert all(r.fp == cat_rows[0].fp for r in cat_rows)
    (other,) = by_text["completely different words entirely here now"]
    assert other.n_tokens == 6
    assert other.stopword_ratio < cat_rows[0].stopword_ratio
    # per-row values, recorded when the keyless expression form of the
    # profile (which the keyed path used to be compared with) was deleted
    cat = ("the cat sat on the mat", 6, 0.54, "03b8b4cdda05e6fef0ffd0c154ff8d65", "en")
    want = [
        (1, "completely different words entirely here now", 6, 0.706667,
         "739841379c156c8fa3707a637fa95554", "und"),
        (1, *cat), (1, *cat), (2, *cat),
    ]
    got = sorted(
        (r.doc_id, r.text, r.n_tokens, r.quality, r.fp, r.lang_pred) for r in rows
    )
    assert got == want

def test_asof_join_semantics(spark):
    from hogzilla_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 10), ("u1", 25), ("u1", 5), ("u2", 50)], "k string, t long"
    )
    right = spark.createDataFrame(
        [("u1", 8, 1.0), ("u1", 20, 2.0), ("u1", 10, 1.5), ("u2", 60, 9.9)],
        "k string, t long, price double",
    )
    out = {(r.k, r.t): (r.t_asof, r.price_asof)
           for r in asof_join(left, right, ["k"], "t", "t", ["price"]).collect()}
    assert out[("u1", 5)] == (None, None)      # nothing before
    assert out[("u1", 10)] == (10, 1.5)        # equal ts is eligible (<=)
    assert out[("u1", 25)] == (20, 2.0)        # latest prior wins
    assert out[("u2", 50)] == (None, None)     # right row is in the future

def test_asof_join_tolerance(spark):
    from hogzilla_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u1", 100)], "k string, t long")
    right = spark.createDataFrame([("u1", 10, 7.0)], "k string, t long, price double")
    near = asof_join(left, right, ["k"], "t", "t", ["price"], tolerance=100).collect()[0]
    far = asof_join(left, right, ["k"], "t", "t", ["price"], tolerance=50).collect()[0]
    assert near.price_asof == 7.0
    assert far.price_asof is None  # 90 > 50 lookback

def test_range_join_binning(spark):
    from hogzilla_spark.operators.rangejoin import range_join

    probe = spark.createDataFrame(
        [("k", 5.0, 1), ("k", 15.0, 2), ("k", 25.0, 3), ("k", 99.0, 4)],
        "seg string, x double, id int",
    )
    intervals = spark.createDataFrame(
        [("k", 0.0, 10.0, "a"), ("k", 10.0, 30.0, "b")],
        "seg string, lo double, hi double, label string",
    )
    out = {r.id: r.label for r in range_join(
        probe, intervals, ["seg"], "x", "lo", "hi", bin_width=7
    ).collect()}
    assert out == {1: "a", 2: "b", 3: "b"}  # 99.0 matches nothing; hi exclusive

def test_hypertable_rollup_buckets(spark):
    import pyspark.sql.functions as F
    from hogzilla_spark.operators.rangejoin import hypertable_rollup

    df = spark.createDataFrame(
        [("a", 10), ("a", 59), ("a", 61), ("b", 10)], "k string, t long"
    )
    out = {(r.bucket_start, r.k): r.n for r in hypertable_rollup(
        df, "t", width_s=60, dims=["k"], aggs={"n": F.count(F.lit(1))}
    ).collect()}
    assert out == {(0, "a"): 2, (60, "a"): 1, (0, "b"): 1}

def test_bpe_token_count(spark):
    from hogzilla_spark.operators.text import token_count_bpe

    df = spark.createDataFrame(
        [
            ("The quick brown fox, it's 42 miles away and the dog ran off!",),
            ("Der schnelle braune Fuchs springt über die Mauer und die Hecke",),
            ("xyzzy qqq",),
        ],
        "text string",
    )
    out = df.select(token_count_bpe("text").alias("n")).collect()
    assert [r.n for r in out] == [17, 11, 2]

def test_ann_recall_vs_brute_force(spark):
    """LSH and IVF approximate top-k must keep reasonable recall@5
    against the exact baseline on the real embedding fixture."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.knn_brute_force(emb, queries, k=5).collect()
    }
    planes = [
        [(((i * 2654435761 + j * 40503) % 1000) / 500.0 - 1.0) for j in range(64)]
        for i in range(3)  # 8 buckets -> generous candidate sets
    ]
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in SIM.ann_lsh_topk(emb, queries, planes, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in SIM.ann_ivf_topk(emb, queries, n_lists=4, nprobe=2, k=5).collect()
    }
    lsh_recall = len(exact & lsh) / len(exact)
    ivf_recall = len(exact & ivf) / len(exact)
    # near-orthogonal synthetic vectors are the hard case; both indexes
    # must still beat random bucketing by a wide margin
    assert lsh_recall >= 0.3, lsh_recall
    assert ivf_recall >= 0.4, ivf_recall

def test_sibling_hof_lambda_hazard(spark):
    """Spark 4.1 cross-binds sibling higher-order-function lambdas that
    share an argument name and differ only in an embedded literal: K
    sibling ``transform(sh, s -> md5(i|s))`` columns in one projection
    return corrupted minhashes.  minhash_signature and _minhash_sig_table
    avoid sibling HOFs entirely; this pins both to a hashlib ground truth
    so a regression to the broken form fails loudly."""
    import hashlib

    docs = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs and jars")]
    K = 16

    p, a, b = DD.minhash_params(K)

    def expect(text):
        toks = text.split()
        sh = sorted({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
        bases = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) & 0x7FFFFFFF
            for s in sh
        ]
        return [min((a[i] * h + b[i]) % p for h in bases) for i in range(K)]

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got_expr = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id",
            DD.minhash_signature(DD.word_shingles("text"), K).alias("sig"),
        ).collect()
    }
    base = df.select(
        F.col("doc_id").alias("id"), DD.word_shingles("text").alias("sh")
    )
    got_table = {
        r.id: [r[f"mh{i}"] for i in range(K)]
        for r in DD._minhash_sig_table(base, K).collect()
    }
    for doc_id, text in docs:
        assert got_expr[doc_id] == expect(text)
        assert got_table[doc_id] == expect(text)

def test_minhash_incremental_matches_full(spark, tmp_path):
    """Incremental (new-batch vs band index) must equal the full
    self-join restricted to pairs touching the new batch — including
    via a parquet round-trip of the index, the ingest shape."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    full = DD.minhash_lsh_pairs(docs, min_jaccard=0.3)
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in full.collect()
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_lsh_pairs_incremental(new, corpus, min_jaccard=0.3).collect()
    }
    assert want and got == want

    idx_path = str(tmp_path / "band_index")
    DD.minhash_band_index(corpus).write.parquet(idx_path)
    via_index = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_lsh_pairs_incremental(
            new, corpus, band_index=spark.read.parquet(idx_path), min_jaccard=0.3
        ).collect()
    }
    assert via_index == want

def _ngram_pairs(df, part, min_jaccard, max_shingle_freq=10_000):
    """One variant ('uncapped' or 'capped') of the fused n-gram Jaccard
    pair operator, as (id_a, id_b, jaccard) rows."""
    return DD.ngram_jaccard_pairs_dual(
        df, min_jaccard=min_jaccard, max_shingle_freq=max_shingle_freq
    ).filter(F.col("part") == part).select("id_a", "id_b", "jaccard")

def test_ngram_jaccard_exact_pairs(spark):
    """Exact jaccard on hand-computable docs, and recall-1 vs LSH: the
    relational plan must find every pair the LSH path finds."""
    docs = [
        (1, "a b c d e"),   # shingles {abc, bcd, cde}
        (2, "a b c d x"),   # shingles {abc, bcd, cdx} → inter 2, union 4
        (3, "z z z q q q"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in _ngram_pairs(df, "capped", min_jaccard=0.1).collect()
    }
    assert got == {(1, 2): 0.5}

    full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lsh = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_lsh_pairs(full, min_jaccard=0.3).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in _ngram_pairs(full, "capped", min_jaccard=0.3).collect()
    }
    assert lsh <= exact  # LSH can only miss pairs, never disagree

def test_scrub_pii_redactions(spark):
    cases = [
        (1, "mail me at alice.smith+x@corp.example.org today",
            "mail me at <EMAIL> today"),
        (2, "see https://a.b/c?d=1&e=2 and http://plain.org/x",
            "see <URL> and <URL>"),
        (3, "host 192.168.1.254 responded", "host <IP> responded"),
        (4, "call 5551234567 or 123456 ok", "call <NUM> or 123456 ok"),
        # URL wins over the email-shaped userinfo inside it
        (5, "ref https://u@ex.com/path stays", "ref <URL> stays"),
        (6, "clean text stays clean", "clean text stays clean"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "id long, text string"
    )
    got = {
        r.id: r.out
        for r in df.select("id", TXT.scrub_pii("text").alias("out")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i])

def test_decontaminate_planted(spark):
    """Planted contamination: a corpus doc that near-dups an eval doc is
    flagged; unrelated corpus docs are not; corpus-internal dups are NOT
    reported (cross pairs only)."""
    eval_text = "the quick brown fox jumps over the lazy dog every single day"
    near_dup = "the quick brown fox jumps over the lazy dog every single night"
    corpus = spark.createDataFrame(
        [
            (100, near_dup),                        # contaminated
            (101, near_dup),                        # corpus-internal dup of 100
            (102, "completely unrelated text about pyspark query engines here"),
        ],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame([(1, eval_text)], "doc_id long, text string")
    got = {
        (r.corpus_id, r.heldout_id): r.jaccard
        for r in DD.decontaminate(corpus, heldout, min_jaccard=0.5).collect()
    }
    assert set(got) == {(100, 1), (101, 1)}  # both contaminated copies, no 102
    assert all(j > 0.8 for j in got.values())
    # empty heldout → empty result, plan still valid
    empty = heldout.filter(F.col("doc_id") < 0)
    assert DD.decontaminate(corpus, empty, min_jaccard=0.1).count() == 0

@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_minhash_incremental_is_filtered_full(spark, sf):
    """r12 fusion guard for q_dedup_minhash: the incremental operator's
    output on a doc_id%5 split must equal the full self-dedup pair set
    filtered to pairs touching the new batch — the documented
    equivalence the registry slot now derives its 'incr' rows by.
    Pinned at sf0.001 AND sf0.01 (ADVICE r12: the bench slot no longer
    executes the incremental path, so the equivalence carries the
    evidence at an oracle-gated scale too)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"/root/testdata/sf{sf}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    incr = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_lsh_pairs_incremental(
            new, corpus, min_jaccard=0.3
        ).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_lsh_pairs(docs, min_jaccard=0.3).collect()
    }
    filtered = {
        (a, b, j) for (a, b, j) in full if a % 5 == 0 or b % 5 == 0
    }
    assert incr == filtered
    assert incr and filtered < full  # non-vacuous both ways

def test_ngram_jaccard_freq_cap_unbiased(spark):
    """Capped jaccard must be exact over the FILTERED shingle universe:
    for a pair whose overlap survives the cap, capped == uncapped once
    boilerplate shingles are excluded from BOTH numerator and
    denominator (the r2/r3 bias counted per-doc sizes pre-filter)."""
    boiler = "the quick brown fox jumps over the lazy dog again"
    docs = [
        # 1&2: identical unique content + shared boilerplate prefix
        (1, boiler + " alpha beta gamma delta epsilon"),
        (2, boiler + " alpha beta gamma delta epsilon"),
        # 3&4: half-overlapping unique content + the same boilerplate
        (3, boiler + " one two three four five six"),
        (4, boiler + " one two three four nine ten"),
        # 5..9: more boilerplate carriers to push its shingle freq over the cap
        (5, boiler + " p q r"),
        (6, boiler + " s t u"),
        (7, boiler + " v w x"),
        (8, boiler + " kk ll mm"),
        (9, boiler + " nn oo pp"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def pairs(cap):
        part, cap = ("uncapped", 10_000) if cap is None else ("capped", cap)
        return {
            (r.id_a, r.id_b): r.jaccard
            for r in _ngram_pairs(df, part, min_jaccard=0.05, max_shingle_freq=cap).collect()
        }

    capped = pairs(4)  # boiler-only shingles appear in all 9 docs → dropped
    # Docs 1/2 are identical → 1.0 over the surviving universe.  The old
    # biased code (pre-filter sizes) gave 5/(13+13-5) ≈ 0.238.
    # Docs 3/4 each keep 6 shingles (2 boiler→unique boundary shared by
    # exactly {3,4} + 4 unique), intersect in 4, union 8 → 0.5; the
    # biased code gave 4/(14+14-4) ≈ 0.167.
    assert capped == {(1, 2): 1.0, (3, 4): 0.5}
    # default cap (10k) never fires on this corpus → identical to uncapped
    assert pairs(10_000) == pairs(None)

#: row digests of the eight bucket-join pair functions on the sf0.01
#: documents, recorded from the per-family implementations they replace
DEDUP_GOLDENS = {
    "minhash_lsh_pairs": "8b4aed86e3bc27a0",
    "minhash_lsh_pairs_incremental": "5740ecd761204b70",
    "decontaminate": "d321f6914dee85c9",
    "ngram_jaccard_pairs_cap5": "597e9d23518587ca",
    "ngram_jaccard_pairs_uncapped": "8b4aed86e3bc27a0",
    "ngram_jaccard_pairs_dual": "8db8c1759c5ffec2",
    "simhash_pairs_64": "109b6629b8ac7b69",
    "simhash128_pairs": "8a384e122412e797",
}

def _dedup_golden_call(name, docs):
    new, old = docs.filter(F.col("doc_id") % 5 == 0), docs.filter(F.col("doc_id") % 5 != 0)
    heldout = docs.filter(F.col("doc_id") % 100 < 2)
    corpus = docs.filter(F.col("doc_id") % 100 >= 2)
    return {
        "minhash_lsh_pairs": lambda: DD.minhash_lsh_pairs(docs, min_jaccard=0.3),
        "minhash_lsh_pairs_incremental": lambda: DD.minhash_lsh_pairs_incremental(
            new, old, min_jaccard=0.3
        ),
        "decontaminate": lambda: DD.decontaminate(corpus, heldout, min_jaccard=0.3),
        "ngram_jaccard_pairs_cap5": lambda: _ngram_pairs(
            docs, "capped", min_jaccard=0.3, max_shingle_freq=5
        ),
        "ngram_jaccard_pairs_uncapped": lambda: _ngram_pairs(
            docs, "uncapped", min_jaccard=0.3
        ),
        "ngram_jaccard_pairs_dual": lambda: DD.ngram_jaccard_pairs_dual(
            docs, min_jaccard=0.3, max_shingle_freq=5
        ),
        "simhash_pairs_64": lambda: DD.simhash_pairs(docs, max_hamming=3, width=64),
        "simhash128_pairs": lambda: DD.simhash128_pairs(docs, max_hamming=3),
    }[name]()

@pytest.mark.parametrize("name", sorted(DEDUP_GOLDENS))
def test_dedup_pair_goldens(spark, name):
    """Each pair function's rows on sf0.01 are digest-identical to the
    recorded output: sha256 of the sorted row tuples' repr."""
    import __spark_entry__ as E

    sf = os.path.join(os.path.dirname(E.SF_DEFAULT), "sf0.01")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    rows = sorted(tuple(r) for r in _dedup_golden_call(name, docs).collect())
    assert hashlib.sha256(repr(rows).encode()).hexdigest()[:16] == DEDUP_GOLDENS[name]

def test_short_and_blank_docs_match_oracle(spark, tmp_path):
    """Documents with fewer than 3 tokens (NULL, empty, blank, one or two
    words) have no word 3-gram shingles, so they never pair: the engine
    agrees with the DuckDB oracle's dedup_minhash, dedup_ngram_jaccard
    and decontaminate SQL, whose shingle CTE keeps only docs with >= 3
    tokens, on a fixture that also holds real near-duplicates."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    near = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, None), (1, ""), (2, "   "), (3, None), (4, "hello"), (5, "Hello"),
        (6, "hello world"), (7, "hello  World"), (8, "\t\n"),
        (10, near), (11, near.replace("today", "tomorrow")),
        (100, near.replace("today", "tonight")),
    ]
    path = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        ),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")

    def rounded(rs):
        return {tuple(r[:-1]) + (round(r[-1], 6),) for r in rs}

    def oracle(q):
        return rounded(con.execute(E.oracle_sql()[q]).fetchall())

    docs = spark.read.parquet(path)
    new, old = docs.filter(F.col("doc_id") % 5 == 0), docs.filter(F.col("doc_id") % 5 != 0)
    heldout = docs.filter(F.col("doc_id") % 100 < 2)
    corpus = docs.filter(F.col("doc_id") % 100 >= 2)

    def tagged(part, df):
        return rounded((part, *r) for r in df.collect())

    minhash = tagged("full", DD.minhash_lsh_pairs(docs, min_jaccard=0.3)) | tagged(
        "incr", DD.minhash_lsh_pairs_incremental(new, old, min_jaccard=0.3)
    )
    assert ("full", 10, 11, 0.833333) in minhash
    assert minhash == oracle("dedup_minhash")
    ngram = rounded(
        tuple(r)
        for r in DD.ngram_jaccard_pairs_dual(docs, min_jaccard=0.3, max_shingle_freq=5).collect()
    )
    assert ngram == oracle("dedup_ngram_jaccard")
    decon = rounded(
        tuple(r) for r in DD.decontaminate(corpus, heldout, min_jaccard=0.3).collect()
    )
    assert decon and decon == oracle("decontaminate")

def test_embedding_neardup_blocked_matches_broadcast(spark):
    """The scale path (block-pair fan-out, no driver collect) must
    reproduce the broadcast kernel exactly — both are exact plans."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def as_set(df):
        return {(r.id_a, r.id_b, r.cosine) for r in df.collect()}

    want = as_set(
        DD.embedding_neardup_pairs(emb, min_cosine=0.4, strategy="broadcast")
    )
    got = as_set(
        DD.embedding_neardup_pairs(
            emb, min_cosine=0.4, strategy="blocked", block_rows=150
        )
    )
    assert want and got == want

def test_embedding_neardup_slab_bounded_kernels_exact(spark, monkeypatch):
    """With the sims-slab budget forced to a few rows, both kernels run
    many sub-matmuls per block/batch — results must stay bit-identical
    (the sf10 OOM fix must not change a single pair)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def as_set(df):
        return {(r.id_a, r.id_b, r.cosine) for r in df.collect()}

    want = as_set(
        DD.embedding_neardup_pairs(emb, min_cosine=0.4, strategy="broadcast")
    )
    # 4 KiB budget → ~8-row slabs against a 64-dim corpus
    monkeypatch.setattr(DD, "_SIMS_SLAB_BYTES", 4096)
    tiny_bcast = as_set(
        DD.embedding_neardup_pairs(emb, min_cosine=0.4, strategy="broadcast")
    )
    tiny_blocked = as_set(
        DD.embedding_neardup_pairs(
            emb, min_cosine=0.4, strategy="blocked", block_rows=150
        )
    )
    assert want and tiny_bcast == want and tiny_blocked == want

def test_embedding_neardup_auto_never_collects_large(spark, monkeypatch):
    """Above the row-count guard the driver-collect path must not run."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def boom(*a, **k):
        raise AssertionError("broadcast path used above threshold")

    monkeypatch.setattr(DD, "_embedding_neardup_broadcast", boom)
    out = DD.embedding_neardup_pairs(
        emb, min_cosine=0.4, broadcast_threshold=100, block_rows=150
    )
    assert out.count() > 0  # blocked path, driver never materializes corpus

def test_connected_components_chains_and_cliques(spark):
    """Min-label propagation must transitively close chains (A-B, B-C,
    C-D → one component) — exactly what raw pair output lacks."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (4, 7), (7, 9)],
        "id_a long, id_b long",
    )
    got = {
        (r.node_id, r.component_id)
        for r in DD.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1), (7, 1), (9, 1),
        (10, 10), (11, 10), (20, 20), (21, 20),
    }

def test_connected_components_long_chain_converges(spark):
    """A 64-node path graph needs log-round pointer jumping, not just
    one-hop propagation — converges well inside max_iter."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = DD.connected_components(pairs)
    assert out.select("component_id").distinct().count() == 1
    assert out.count() == n + 1

def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert DD.connected_components(pairs).count() == 0

def test_connected_components_raises_on_max_iter(spark):
    """Exhausting max_iter without the convergence sum stabilizing must
    raise — partially-converged labels are silently wrong (component_id
    would not be the component minimum)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(pairs, max_iter=1)

def test_cut_operators_leave_only_the_frame_they_return(spark):
    """A call registers one persisted RDD, the cut behind the frame it
    returns: `connected_components` releases its edge cut and every
    superseded label cut, and `dsir_log_ratio` its two count cuts, once
    the frame they return is materialized.  The frames still read
    after the release."""
    from hogzilla_spark.operators.sampling import dsir_select

    jsc = spark.sparkContext._jsc

    def added(call):
        before = set(jsc.getPersistentRDDs().keySet())
        out = call()
        return len(set(jsc.getPersistentRDDs().keySet()) - before), out

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "an entirely different sentence about other things")],
        "doc_id long, text string",
    )
    n, pairs = added(lambda: DD.minhash_lsh_pairs(docs))
    assert (n, pairs.count()) == (1, 1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )
    n, comps = added(lambda: DD.connected_components(chain))
    assert n == 1
    assert {r.component_id for r in comps.collect()} == {0}
    raw = spark.createDataFrame(
        [(i, "alpha beta" if i % 2 else "qq zz") for i in range(20)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame([(100, "alpha beta gamma")], "doc_id long, text string")
    n, sel = added(lambda: dsir_select(raw, target, k=8, n_buckets=128))
    assert n == 1
    assert sel.count() == 8

def test_semantic_dedup_keeps_lowest_id(spark):
    from hogzilla_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.01]),   # near-dup of 1, same cluster → dropped
            (3, [0.0, 1.0]),
            (4, [0.01, 0.999]),   # near-dup of 3 → dropped
            (5, [0.7, 0.71]),     # cluster 1 but dissimilar → kept
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.vec_id, r.cluster_id, r.kept)
        for r in semantic_dedup(
            emb, [[1.0, 0.0], [0.0, 1.0]], threshold=0.99
        ).collect()
    }
    assert got == {
        (1, 0, True), (2, 0, False), (3, 1, True), (4, 1, False), (5, 1, True),
    }

def test_chunk_documents_windows(spark):
    from hogzilla_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),
            (2, "a b"),
            (3, ""),        # no chunks
            (4, None),      # no chunks
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_id, r.n_tokens, r.chunk_text)
        for r in chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    )
    assert rows == [
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t3 t4 t5 t6"),
        (1, 2, 4, "t6 t7 t8 t9"),
        (2, 0, 2, "a b"),
    ]

def test_chunk_documents_overlap_covers_everything(spark):
    """Every token index lands in at least one chunk; consecutive chunks
    overlap by chunk_tokens - stride."""
    from hogzilla_spark.operators.text import chunk_documents

    text = " ".join(str(i) for i in range(257))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        (r.chunk_id, r.chunk_text.split())
        for r in chunk_documents(docs, chunk_tokens=64, stride=48).collect()
    )
    seen = set()
    for cid, toks in rows:
        assert len(toks) <= 64
        seen.update(int(t) for t in toks)
    assert seen == set(range(257))
    assert [c for c, _ in rows] == list(range(len(rows)))

def test_semantic_dedup_kernel_matches_expr(spark):
    """The BLAS kernel reproduces the retired pure-expression path's
    (vec_id, cluster_id, kept) rows on real testdata — frozen when that
    path was deleted as sha256 over the sorted row reprs, plus the
    schema and row count (the kernel matched it at that commit)."""
    import hashlib

    from hogzilla_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.filter(emb.vec_id.isin(3, 67, 131, 195)).orderBy("vec_id").collect()
    ]
    out = semantic_dedup(emb, cents, threshold=0.35)
    rows = out.collect()
    assert (
        out.schema.simpleString(),
        len(rows),
        hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest(),
    ) == (
        "struct<vec_id:bigint,cluster_id:int,kept:boolean>",
        500,
        "d3a97001d8cb0a3a979a3fbc512fc90303cc5d863549f2ab5e4566eb20ac6184",
    )
    assert any(not r.kept for r in rows)  # the drop path is exercised

def test_bm25_hand_computed(spark):
    """BM25 microunit scores against a by-hand computation (Lucene idf
    form, k1=1.2, b=0.75)."""
    import math

    from hogzilla_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "cat dog cat"),
            (2, "dog dog dog fish"),
            (3, "bird bird"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.score_u, r.n_hits) for r in bm25_topk(docs, ["cat", "dog"], k=10).collect()}

    n, avgdl = 3, (3 + 4 + 2) / 3
    def score(tf, df, dl):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    def u(x):
        return int(math.floor(x * 1e6 + 0.5))
    want = {
        1: (u(score(2, 1, 3)) + u(score(1, 2, 3)), 2),  # cat×2, dog×1
        2: (u(score(3, 2, 4)), 1),                      # dog×3
    }
    assert got == want

def test_semantic_dedup_blocked_kernel_matches_single_slab(spark):
    """block_rows smaller than the cluster exercises the block loop;
    results must equal the single-slab run."""
    from hogzilla_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.filter(emb.vec_id.isin(3, 67)).orderBy("vec_id").collect()
    ]
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    small = as_set(semantic_dedup(emb, cents, threshold=0.35, block_rows=7))
    big = as_set(semantic_dedup(emb, cents, threshold=0.35, block_rows=1 << 20))
    assert small == big and any(not k for _, _, k in small)

def test_chunk_documents_non_overlapping(spark):
    """stride == chunk_tokens gives exact partitioning: chunks
    concatenate back to the token stream."""
    from hogzilla_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(str(i) for i in range(10)))], "doc_id long, text string"
    )
    rows = sorted(
        (r.chunk_id, r.chunk_text)
        for r in chunk_documents(docs, chunk_tokens=4, stride=4).collect()
    )
    assert [t for _, t in rows] == ["0 1 2 3", "4 5 6 7", "8 9"]

def test_bm25_degenerate_inputs(spark):
    from hogzilla_spark.operators.text import bm25_topk

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_topk(empty, ["spark"]).count() == 0
    import pytest
    with pytest.raises(ValueError):
        bm25_topk(empty, [])

def test_bm25_null_text_counts_as_empty_doc(spark):
    """A NULL-text doc must contribute dl=0 to avgdl (like a SQL AVG
    over a coalesced length), NOT size(NULL) = −1: scores over the
    non-null docs must match the same corpus with '' in its place."""
    import math

    from hogzilla_spark.operators.text import bm25_topk

    with_null = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog dog dog fish"), (3, None)],
        "doc_id long, text string",
    )
    with_empty = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog dog dog fish"), (3, "")],
        "doc_id long, text string",
    )
    got = {tuple(r) for r in bm25_topk(with_null, ["cat", "dog"]).collect()}
    want = {tuple(r) for r in bm25_topk(with_empty, ["cat", "dog"]).collect()}
    assert got == want
    # and the avgdl actually reflects the zero-length doc: hand check
    n, avgdl = 3, (3 + 4 + 0) / 3
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
    s = idf * (3 * 2.2) / (3 + 1.2 * (1 - 0.75 + 0.75 * 4 / avgdl))
    doc2 = {t[0]: t[1] for t in got}[2]
    assert doc2 == int(math.floor(s * 1e6 + 0.5))

def test_dedup_lines_null_text_keeps_doc(spark):
    """A NULL-text document still yields its output row — downstream
    inner joins must not silently lose it."""
    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, None)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.text_clean, r.n_removed)
           for r in DD.dedup_lines(docs).collect()}
    assert got[2] == ("", 0) and got[1] == ("a\nb", 0)
