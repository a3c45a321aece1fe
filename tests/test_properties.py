"""Property tests (SURVEY.md §5 item 4): histogram-merge invariants,
orientation involution, codec round trips.

One Spark job evaluates a whole hypothesis batch (row-per-example), so
examples are cheap.
"""

import math

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from hogzilla_spark.operators import histogram as H

weights = st.dictionaries(
    st.sampled_from([str(p) for p in (22, 25, 53, 80, 443, 8080)]),
    st.floats(min_value=1e-6, max_value=1.0, allow_nan=False),
    min_size=1,
    max_size=4,
).map(lambda d: {k: v / sum(d.values()) for k, v in d.items()})  # normalize

@st.composite
def hist_pairs(draw):
    return (
        draw(weights),
        draw(st.integers(min_value=1, max_value=5000)),
        draw(weights),
        draw(st.integers(min_value=1, max_value=5000)),
    )

@settings(max_examples=20, deadline=None)
@given(st.lists(hist_pairs(), min_size=1, max_size=8))
def test_merge_preserves_distribution(spark, cases):
    """Merged share-normalized histograms stay distributions: weights in
    [0,1], total ≈ 1 (Histograms.merge is a convex combination)."""
    df = spark.createDataFrame(
        cases,
        "old map<string,double>, n1 long, new map<string,double>, n2 long",
    )
    rows = df.select(
        H.merge_histograms("old", "n1", "new", "n2").alias("m"),
        H.merged_size("n1", "n2").alias("s"),
        "n1", "n2",
    ).collect()
    for r in rows:
        total = sum(r.m.values())
        assert all(0.0 <= v <= 1.0 + 1e-9 for v in r.m.values())
        assert math.isclose(total, 1.0, rel_tol=1e-9)
        # size arithmetic: decay halves old size past 1000
        n1_eff = r.n1 // 2 if r.n1 > 1000 else r.n1
        assert r.s == n1_eff + r.n2

@settings(max_examples=20, deadline=None)
@given(st.lists(hist_pairs(), min_size=1, max_size=8))
def test_merge_max_pointwise_bound(spark, cases):
    """mergeMax dominates both inputs pointwise and introduces no keys."""
    df = spark.createDataFrame(
        cases,
        "old map<string,double>, n1 long, new map<string,double>, n2 long",
    )
    rows = df.select("old", "new", H.merge_max("old", "new").alias("m")).collect()
    for r in rows:
        keys = set(r.old) | set(r.new)
        assert set(r.m) == keys
        for k in keys:
            assert math.isclose(
                r.m[k], max(r.old.get(k, 0.0), r.new.get(k, 0.0)), rel_tol=1e-12
            )

@settings(max_examples=20, deadline=None)
@given(st.lists(hist_pairs(), min_size=1, max_size=8))
def test_atypical_typical_partition_new_keys(spark, cases):
    """atypical(old,new) is the part of keys(new) with weight>ε whose
    old weight is ≤ε; the rest of those keys are typical
    (Histograms.scala:39-82)."""
    df = spark.createDataFrame(
        cases,
        "old map<string,double>, n1 long, new map<string,double>, n2 long",
    )
    rows = df.select("old", "new", H.atypical_keys("old", "new").alias("a")).collect()
    for r in rows:
        expect = {
            k for k, v in r.new.items()
            if v > H.EPSILON and r.old.get(k, 0.0) <= H.EPSILON
        }
        assert set(r.a) == expect

@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["10.1.0.5", "10.1.9.9"]),  # internal side
            st.sampled_from(["80", "443", "12345", "53"]),
            st.sampled_from(["8.8.8.8", "7.7.7.7"]),  # external side
            st.sampled_from(["40000", "25", "9999"]),
            st.sampled_from(["6", "17"]),
            st.integers(min_value=1, max_value=10000),
            st.sampled_from(["0x00", "0x02", "0x12", "0x18", "0x10"]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_orientation_packet_reversal_merges(spark, pkts):
    """Sending every internal↔external packet twice — once as-is and once
    with src/dst swapped — lands both copies in the SAME oriented
    5-tuple (orientation involution).  Only holds when exactly one side
    is internal: internal↔internal traffic keys per-direction, by design
    (matching the reference, HogSFlow.scala:847-866 — hypothesis found
    that edge on the unconstrained strategy)."""
    from hogzilla_spark.operators.rollup import sflow_summary

    rows = []
    for src, sp, dst, dp, proto, size, flags in pkts:
        rows.append((src, sp, dst, dp, proto, size, 1, flags, 1000))
        rows.append((dst, dp, src, sp, proto, size, 1, flags, 1000))
    df = spark.createDataFrame(
        rows,
        "srcIP string, srcPort string, dstIP string, dstPort string, "
        "IPprotocol string, packetSize long, samplingRate long, "
        "tcpFlags string, timestamp long",
    )
    out = sflow_summary(df, ["10.1."]).collect()
    for r in out:
        # each tuple's byte total equals its packet-size sum, split
        # across up/down; no packet can vanish or double-count
        assert r.bytesUp + r.bytesDown > 0
        assert r.numberPkts >= 2
    total_bytes = sum(r.bytesUp + r.bytesDown for r in out)
    assert total_bytes == 2 * sum(p[5] for p in pkts)

# --- codec properties (no Spark session needed) -----------------------------

codec_imgs = st.tuples(
    st.integers(min_value=1, max_value=24),  # h
    st.integers(min_value=1, max_value=24),  # w
    st.integers(min_value=0, max_value=2**32 - 1),  # seed
)

@settings(max_examples=30, deadline=None)
@given(codec_imgs, st.integers(min_value=0, max_value=4))
def test_png_roundtrip_property(dims, filter_type):
    import numpy as np
    from hogzilla_spark.operators import multimodal as MM

    h, w, seed = dims
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(
        MM.decode_png(MM.encode_png(img, filter_type=filter_type)), img
    )

@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=255), min_size=0, max_size=4000),
    st.integers(min_value=2, max_value=8),
)
def test_gif_lzw_roundtrip_property(seq, min_code_size):
    from hogzilla_spark.operators import multimodal as MM

    alphabet = 1 << min_code_size
    seq = [v % alphabet for v in seq]
    assert MM._lzw_decode(MM._lzw_encode(seq, min_code_size), min_code_size) == seq

@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=-32767, max_value=32767))
def test_jpeg_magnitude_coding_inverse(v):
    from hogzilla_spark.operators import jpeg as J

    s, extra = J._magnitude(v)
    if s == 0:
        assert v == 0
    else:
        assert J._extend(extra, s) == v

@settings(max_examples=20, deadline=None)
@given(codec_imgs)
def test_jpeg_q100_bounded_error_property(dims):
    import numpy as np
    from hogzilla_spark.operators import jpeg as J

    h, w, seed = dims
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    back = J.decode_jpeg(J.encode_jpeg(img, quality=100))
    assert back.shape == (h, w, 3)
    # q=100 → unit quant steps: error bounded by chroma subsampling-free
    # DCT rounding; random noise worst case stays within ~16 levels
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 24

@settings(max_examples=20, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label propagation == a sequential union-find on
    arbitrary random graphs (chains, stars, cliques, forests)."""
    from hogzilla_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    nodes = {v for e in edges for v in e}
    # canonical component id = min node id in the component
    comp_min: dict[int, int] = {}
    for v in nodes:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {(v, comp_min[find(v)]) for v in nodes}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r.node_id, r.component_id)
        for r in connected_components(pairs).collect()
    }
    assert got == want

@settings(max_examples=25, deadline=None)
@given(
    n_tok=st.integers(0, 200),
    chunk=st.integers(1, 64),
    stride_frac=st.floats(0.1, 1.0),
)
def test_chunk_documents_matches_reference(spark, n_tok, chunk, stride_frac):
    """chunk_documents == a sequential reference implementation for
    arbitrary (n_tokens, chunk, stride) combinations."""
    from hogzilla_spark.operators.text import chunk_documents

    stride = max(1, int(chunk * stride_frac))
    toks = [f"t{i}" for i in range(n_tok)]
    docs = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    got = sorted(
        (r.chunk_id, r.n_tokens, r.chunk_text)
        for r in chunk_documents(docs, chunk_tokens=chunk, stride=stride).collect()
    )
    want = []
    if n_tok > 0:
        n_chunks = max(0, -(-(max(n_tok - chunk, 0)) // stride)) + 1
        for c in range(n_chunks):
            w = toks[c * stride : c * stride + chunk]
            want.append((c, len(w), " ".join(w)))
    assert got == want

@settings(max_examples=15, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["cat", "dog", "fish", "bird", "ant"]),
                 min_size=1, max_size=12),
        min_size=1, max_size=8,
    )
)
def test_bm25_matches_reference(spark, docs):
    """bm25_topk == a sequential reference implementation on random
    small corpora (microunit-rounded per-term scores, Lucene idf)."""
    import math

    from hogzilla_spark.operators.text import bm25_topk

    terms = ["cat", "dog"]
    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.score_u, r.n_hits)
        for r in bm25_topk(sdf, terms, k=100).collect()
    }

    n = len(docs)
    avgdl = sum(len(d) for d in docs) / n
    dfreq = {t: sum(1 for d in docs if t in d) for t in terms}
    want = set()
    for i, d in enumerate(docs):
        su, hits = 0, 0
        for t in terms:
            tf = d.count(t)
            if tf == 0:
                continue
            hits += 1
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len(d) / avgdl))
            su += int(math.floor(s * 1e6 + 0.5))
        if hits:
            want.add((i, su, hits))
    assert got == want

@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["cat", "dog", "fish", "bird", "ant",
                                  "red", "blue", "run", "jump", "sky"]),
                 min_size=1, max_size=16),
        min_size=2, max_size=8,
    ),
    max_hamming=st.integers(min_value=0, max_value=3),
)
def test_simhash128_pairs_match_reference(spark, docs, max_hamming):
    """simhash128_pairs == a sequential hashlib reference (signatures,
    pigeonhole candidates AND the hamming gate) on random corpora."""
    import hashlib

    from hogzilla_spark.operators.dedup import simhash128_pairs

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash128_pairs(sdf, max_hamming=max_hamming).collect()
    }

    def sig(d):
        hx = [hashlib.md5(t.encode()).hexdigest() for t in d]
        words = []
        for off in (0, 8, 16, 24):
            vals = [int(h[off : off + 8], 16) for h in hx]
            s = 0
            for j in range(32):
                if sum(1 if (v >> j) & 1 else -1 for v in vals) > 0:
                    s |= 1 << j
            words.append(s)
        return words

    sigs = [sig(d) for d in docs]
    want = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            # candidates require one EQUAL word (the pigeonhole join)
            if not any(x == y for x, y in zip(sigs[a], sigs[b])):
                continue
            h = sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))
            if h <= max_hamming:
                want.add((a, b, h))
    assert got == want

@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # cluster
            st.integers(min_value=0, max_value=2),   # group
            st.integers(min_value=0, max_value=1),   # dirty
        ),
        min_size=1,
        max_size=40,
    )
)
def test_taint_selection_invariants(spark, rows):
    """M5 taint rule (ml/kmeans.taint_selection) invariants under any
    assignment: cells partition the input (counts sum to N, rates are
    per-cell dirty means), members are exactly the UNTAGGED rows of
    cells that satisfy BOTH thresholds."""
    from hogzilla_spark.config import MLConfig
    from hogzilla_spark.ml.kmeans import taint_selection

    pred = spark.createDataFrame(
        [(i, c, f"g{g}", d) for i, (c, g, d) in enumerate(rows)],
        "row_id long, cluster int, grp string, dirty int",
    )
    cfg = MLConfig()
    members, cells = taint_selection(pred, "grp", "dirty", cfg)
    cell_rows = cells.collect()
    member_rows = members.collect()

    n = len(rows)
    assert sum(r.cell_count for r in cell_rows) == n
    from collections import defaultdict

    by_cell = defaultdict(list)
    for c, g, d in rows:
        by_cell[(c, f"g{g}")].append(d)
    for r in cell_rows:
        ds = by_cell[(r.cluster, r.grp)]
        assert r.cell_count == len(ds)
        assert abs(r.dirty_rate - sum(ds) / len(ds)) < 1e-12
    tainted = {
        (r.cluster, r.grp)
        for r in cell_rows
        if r.cell_count < cfg.taint_max_group_pct * n
        and r.dirty_rate >= cfg.taint_min_dirty_rate
    }
    expect_members = {
        i
        for i, (c, g, d) in enumerate(rows)
        if (c, f"g{g}") in tainted and d == 0
    }
    assert {r.row_id for r in member_rows} == expect_members
    assert all(r.dirty == 0 for r in member_rows)
