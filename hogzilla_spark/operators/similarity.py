"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k (exact, the correctness oracle).
Scale path: LSH (random-hyperplane) bucketing so the candidate join is
bucket-local, plus an IVF variant (KMeans coarse quantizer) for recall
control.  The top-k ranking cosines and the hyperplane signatures are
array<double> expressions (zip_with/aggregate), JVM-side.  The IVF probe
stage (`probed_lists`) and the per-list/per-cluster cosine scoring are
Arrow-batched numpy kernels (mapInPandas / applyInPandas).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hogzilla_spark.sources.catalog import spread_small_scan

def _const_array(values) -> Column:
    """Constant array<double> literal in ONE py4j round trip.

    ``F.array(*[F.lit(float(x)) for x in vec])`` costs one py4j call per
    element — a 64-dim centroid is ~65 driver round trips, and a K=8
    codebook unrolled into probe expressions is ~1,000 (measured ~0.4 s
    of pure DataFrame BUILD time per call site at any scale, r12).
    ``F.lit`` on a 1-D float64 ndarray takes the NumpyArrayConverter
    fast path: a single jvm Literal carrying the identical doubles (no
    string formatting), which constant-folds to exactly what CreateArray
    of foldable literals folded to.  Build-time only; evaluation and
    values are unchanged."""
    import numpy as np

    return F.lit(np.asarray([float(v) for v in values], dtype=np.float64))

def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — same accumulation order as a scalar
    loop, so results are bit-comparable across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )

def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))

def _as_double(vec_col: Column | str) -> Column:
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(c, lambda x: x.cast("double"))

def knn_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast the (small) query set against the corpus scan → per-query
    window top-k.  One shuffle (on query_id) sized k×|queries| after
    partial ranking; the corpus is never shuffled.  Excludes self-matches
    when ids collide.  Deterministic: ties break on neighbor id.
    """
    from pyspark.sql import Window

    # norms are per-row properties: compute them once per corpus row /
    # query row below the join instead of re-folding both 64-dim arrays
    # inside every pair's cosine (the per-pair interpreted work drops
    # ~3×; dot/(qn·cn) is the same op order on the same doubles, so the
    # round-6 value is bit-identical to folding both norms per pair)
    q = queries.select(
        F.col(id_col).alias(query_id_col), _as_double(vec_col).alias("qv")
    ).withColumn("qn", norm_expr(F.col("qv")))
    # floor the corpus side's parallelism BEFORE the per-row norm and
    # per-pair dot folds (no-op at scale; the r12 pre-hoisting A/B that
    # rejected spreading no longer holds once norms are hoisted —
    # interleaved A/B: sf1 1.5→0.45 s, sf0.1 neutral)
    c = (
        spread_small_scan(corpus.select(id_col, vec_col))
        .select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv"))
        .withColumn("cn", norm_expr(F.col("cv")))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            F.round(
                dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", "cosine", F.col("rk").alias("rank"))
    )

# --- LSH (random hyperplanes) ----------------------------------------------

def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature against fixed hyperplanes → int bucket id.
    Planes are deterministic constants (seeded offline) so the plan is
    pure expression — no model state."""
    # one transform over the constant plane matrix, not an unrolled
    # per-plane chain: each zip_with/aggregate lambda costs ~20 ms of
    # py4j round trips to BUILD (r12 profile), so the unrolled form was
    # ~0.5 s of driver build time per call site.  Values identical: the
    # fold per plane and the left-to-right integer sum are unchanged
    # (0 + b0 + b1 + ..., exact int arithmetic).
    import numpy as np

    # int32 bit weights overflow at 1<<31 (numpy>=2 raises; older numpy
    # wraps negative), and widening to int64 would silently change the
    # signature column's Spark type — reject the latent bound instead
    # (ADVICE r12; callers today pass <=4 planes)
    if len(planes) >= 31:
        raise ValueError(
            f"hyperplane_signature supports at most 30 planes (int32 bucket); "
            f"got {len(planes)}"
        )
    pmat = F.array(*[_const_array(p) for p in planes])
    weights = F.lit(np.asarray([1 << i for i in range(len(planes))], dtype=np.int32))
    bits = F.transform(
        pmat, lambda p: F.when(dot_expr(vec, p) >= 0, F.lit(1)).otherwise(F.lit(0))
    )
    contrib = F.zip_with(bits, weights, lambda b, w: b * w)
    return F.aggregate(contrib, F.lit(0), lambda acc, x: acc + x)

def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket;
    exact cosine ranks within bucket.  At 100 TB the corpus is
    pre-bucketed (partitioned by bucket) so a query touches one
    partition's worth of vectors."""
    from pyspark.sql import Window

    # parallelism floor before the per-row signature/norm folds — same
    # rationale and A/B as knn_brute_force (no-op at scale)
    c = spread_small_scan(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    c = c.withColumn("bucket", hyperplane_signature(F.col("cv"), planes)).withColumn(
        "cn", norm_expr(F.col("cv"))
    )
    q = (
        queries.select(F.col(id_col).alias(query_id_col), _as_double(vec_col).alias("qv"))
        .withColumn("bucket", hyperplane_signature(F.col("qv"), planes))
        .withColumn("qn", norm_expr(F.col("qv")))
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            # per-row norms hoisted below the join — same op order as
            # the per-pair dot/(qn·cn), bit-identical round-6 values
            F.round(
                dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", "cosine", F.col("rk").alias("rank"))
    )

def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_lists: int = 8,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: a coarse quantizer buckets the corpus; each
    query probes its `nprobe` nearest lists and ranks exactly inside
    them.  At 100 TB the assigned table is persisted partitioned by
    list_id, so a query touches nprobe partitions instead of the corpus.

    The quantizer is KMeans (seeded) by default; passing `centroids`
    skips the fit and quantizes against the given vectors — fully
    deterministic and expressible in ANSI SQL, which is what the oracle
    gate exercises.  Probe selection is the `probed_lists` kernel on
    both sides (corpus assignment at nprobe=1, the broadcast query set
    at `nprobe`): no per-query driver loop.  Only the corpus side gets
    the parallelism floor: repartitioning a handful of query rows costs
    more than probing them in one task (measured +0.6 s per warm
    ann_topk run at sf0.01, local[4] on 4 vCPUs).
    """
    from pyspark.sql import Window

    if centroids is None:
        model, assigned = ivf_index(corpus, n_lists, id_col, vec_col, seed)
        centroids = [list(map(float, c)) for c in model.clusterCenters()]
        c = assigned.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(vec_col).alias("cv"),
            "list_id",
        )
    else:
        c = probed_lists(
            spread_small_scan(
                corpus.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
            ),
            centroids,
            1,
        ).select(
            F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "list_id"
        )
    q = probed_lists(
        queries.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v")),
        centroids,
        nprobe,
    ).select(
        F.col("id").alias(query_id_col),
        F.col("v").alias("qv"),
        norm_expr(F.col("v")).alias("qn"),
        "list_id",
    )
    c = c.withColumn("cn", norm_expr(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            # per-row norms hoisted below the join — same op order as
            # the per-pair dot/(qn·cn), bit-identical round-6 values
            F.round(
                dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", "cosine", F.col("rk").alias("rank"))
    )

def ivf_index(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF coarse quantizer: KMeans over the corpus; returns (model,
    assigned DataFrame with `list_id`).  Scale path: persist the assigned
    table partitioned by list_id; queries probe nprobe nearest lists."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(
        F.col(id_col), F.col(vec_col), array_to_vector(_as_double(vec_col)).alias("features")
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="features", predictionCol="list_id")
    model = km.fit(feat)
    return model, model.transform(feat).select(id_col, vec_col, "list_id")

def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding (class prototypes — the nearest-class-
    mean / prototype-classifier building block, and the per-cluster
    centroid refresh of an IVF rebuild).

    Shape: posexplode to (label, dim, value) then ONE groupBy — the
    shuffle carries (label, dim) partial sums, never vectors, and the
    dimension axis parallelizes the aggregation (a 4096-dim corpus
    spreads over 4096·|labels| keys instead of |labels| hot keys).
    Output rows (label, dim, mean, n) rather than re-assembled arrays:
    downstream joins consume the long form directly, and re-assembly is
    a collect_list away when needed."""
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(vec_col)).alias("dim", "v"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.round(F.avg("v"), 6).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )

def adaptive_centroid_ids(n: int, target_list_rows: int = 2500, min_k: int = 8) -> list[int]:
    """Deterministic, SQL-replayable centroid row ids for a corpus of n
    contiguous vec_ids: K = max(min_k, ceil(n / target_list_rows)) rows
    at stride n // K starting from id 3 (the IVF_CENTROID_IDS
    convention, generalized so K grows with the corpus and per-list
    sizes stay ~constant — the IVF scale knob).

    Minimum corpus: the last id, 3 + stride·(K−1), must exist (< n) —
    at the defaults that means n >= 25 (K floors at 8, stride n//8).
    Raising instead of clamping keeps the closed form identical to the
    SQL twin's (the neardup_ann oracle re-derives these ids relationally
    from the same formula); a clamp would silently change the codebook
    for tiny corpora and desync the twin."""
    if n < 1:
        raise ValueError("adaptive_centroid_ids needs a non-empty corpus")
    k = max(min_k, -(-n // target_list_rows))
    stride = max(1, n // k)
    ids = [3 + stride * i for i in range(k)]
    if ids[-1] >= n:
        raise ValueError(
            f"corpus too small for the centroid convention: last id "
            f"{ids[-1]} >= n={n} (need n >= 25 at the defaults); pass "
            "explicit centroids for tiny corpora"
        )
    return ids

def adaptive_nprobe(k: int) -> int:
    """Recall-targeted probe count paired with the adaptive codebook:
    nprobe = max(3, floor(k/135 + 0.5)) — the half-up linear rule
    calibrated on the planted-band recall ladder (ANN_RECALL.json,
    VERDICT r11 task 1).  Measured: K<=84 (sf<=10) meets the 0.95
    production-band recall bar at cos>=0.90 with nprobe=3; K=808
    (sf100, 2M vectors) measures only 0.74/0.84 at cos 0.85/0.90 with
    nprobe=3 and needs nprobe=6 (0.959/0.984/0.999/1.0 at
    0.85/0.90/0.95/0.99).  Recall at fixed nprobe decays as K grows
    because finer lists split a true pair's probe sets more often, so
    the probe count must scale ~linearly with K; 135 is the slope that
    maps the two calibrated endpoints (84->3, 808->6) onto the
    measured bar with half-up rounding.  Cost: shuffle and per-list
    candidate volume scale linearly with nprobe (the documented
    recall/cost knob), so the rule raises cost only where the recall
    bar demands it.  floor(x+0.5), not round(): the same portable
    half-up convention as round6u, replayable in the SQL twin as
    GREATEST(3, CAST(FLOOR(k/135.0 + 0.5) AS BIGINT))."""
    if k < 1:
        raise ValueError("adaptive_nprobe needs a positive list count")
    return max(3, int(k / 135.0 + 0.5))

def probed_lists(
    v: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
) -> DataFrame:
    """(id, v) → (id, v, probes array<int>, list_id int): every vector
    fanned out to its `nprobe` nearest lists (round-6 squared L2, ties
    on list id) — the one IVF probe/assignment rule behind
    `ann_candidate_pairs`, `ann_ivf_topk` and `semantic_dedup`
    (nprobe=1 = plain assignment).  The DuckDB oracle replays the same
    rule in SQL.

    An Arrow-batched numpy kernel: the centroid matrix is broadcast once
    and each batch scores all K lists in vectorized passes.  Corpus-side
    callers pass their input through `spread_small_scan` first: the
    probe fold is the heavy per-row stage and a small single-row-group
    parquet arrives as ONE split (no-op at scale).
    """
    import numpy as np
    import pandas as pd

    cmat = np.array(centroids, dtype=np.float64)
    bc = v.sparkSession.sparkContext.broadcast(cmat)
    np_probe = nprobe

    def assign(batches):
        cents = bc.value
        for pdf in batches:
            m = np.array(list(pdf["v"]), dtype=np.float64)
            # round-6 squared L2, ties broken by list id (argsort is
            # stable on d).  Distance is Σ(v−c)² accumulated as a
            # SEQUENTIAL fold over the dim axis (acc += (v_k−c_k)², k
            # ascending) — the oracle SQL's list_dot_product over the
            # diff list, so a round-6 tie at a probe boundary cannot
            # flip (einsum's SIMD/pairwise partial sums carry a
            # last-ulp residual; the expanded |v|²−2v·c+|c|² form
            # changes the value outright).  Slabbed so the per-dim
            # (rows × K) temporary stays ~64 MB/dim.  Rounding is
            # floor(d·1e6+0.5), the round6u convention, not np.round's
            # scaled half-even; the scaled integer orders identically
            # to round6u's /1e6 form, so the /1e6 is skipped.
            slab = max(1, (64 * 1024 * 1024) // (cents.shape[0] * cents.shape[1] * 8))
            d = np.empty((len(m), cents.shape[0]), dtype=np.float64)
            for lo in range(0, len(m), slab):
                hi = min(lo + slab, len(m))
                acc = np.zeros((hi - lo, cents.shape[0]), dtype=np.float64)
                for k in range(cents.shape[1]):
                    diff = m[lo:hi, k, None] - cents[None, :, k]
                    acc += diff * diff
                d[lo:hi] = acc
            d = np.floor(d * 1e6 + 0.5)
            order = np.argsort(d, axis=1, kind="stable")[:, :np_probe]
            n_rows = len(pdf)
            probes = [row.tolist() for row in order]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy().repeat(np_probe),
                    "v": [row for row in pdf["v"] for _ in range(np_probe)],
                    "probes": [p for p in probes for _ in range(np_probe)],
                    "list_id": order.reshape(n_rows * np_probe),
                }
            )

    # derive the id field's type from the input instead of hardcoding
    # 'long': string/int doc ids must not break or silently coerce
    id_type = v.schema["id"].dataType.simpleString()
    return v.mapInPandas(
        assign, f"id {id_type}, v array<double>, probes array<int>, list_id int"
    )

def ann_candidate_pairs(
    emb: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 3,
    min_cosine: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN near-dup pairs: IVF multi-probe candidate generation composed
    with EXACT cosine verification (the runnable form of the "ANN is
    the scale path" declaration on the quadratic similarity members).

    Every vector fans out to its `nprobe` nearest lists (round-6 L2,
    ties on list id — identical to ann_ivf_topk's probe rule); each
    list's matrix scores itself with the slab-bounded BLAS kernel; a
    pair is emitted when round-6 cosine >= min_cosine — EXACTLY ONCE,
    in the lowest list id the two sides co-probe (each row carries its
    probe array, so the canonical list is decidable inside the scoring
    task; the cosine is bit-identical across co-probed lists — same
    kernel, same op order — so which list emits cannot change the
    value).  Emit-once replaced a global ``distinct()`` in r12: at
    sf100/nprobe=6 the pre-distinct pair stream is ~4x the nprobe=3
    volume and the distinct's exchange (every emitted pair shuffled
    once more) pushed the run past the machine's disk budget — the
    canonical-list rule produces the identical pair set with zero
    post-scoring shuffle.  Output ⊆ the exact operator's output by
    construction —
    up to one round-6 ulp at an exact half boundary, because this
    kernel shares the SQL oracle's op order (dot/(na·nb)) while
    embedding_neardup normalizes rows before the matmul; the recall
    (vs embedding_neardup_pairs at the same threshold) is pinned by
    tests/test_ann_swap.py.

    Scale shape: shuffle = nprobe × corpus; per-task memory = one
    list's vectors; candidates ≈ K · (nprobe·n/K)²/2 — K grows with n
    (adaptive_centroid_ids) so per-list sizes, task memory, and
    candidate counts per list stay constant while total work stays
    ~linear · nprobe².  A hot list is the skew knob: raise K.

    Centroid assignment is the `probed_lists` kernel; its output on a
    40-list codebook is pinned by a row golden in tests/test_ann_swap.py.
    """
    import numpy as np
    import pandas as pd

    from hogzilla_spark.operators.dedup import (
        _SIMS_SLAB_BYTES,
        _round6_select,
        _slab_rows,
    )

    probed = probed_lists(
        spread_small_scan(
            emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        ),
        centroids,
        nprobe,
    )

    slab_budget = _SIMS_SLAB_BYTES  # captured at plan build

    def _canonical_mask(pa, pb, cur):
        """True where `cur` is the LOWEST list id probed by both sides.
        Fast path: if cur is already the minimum of either side's probe
        array, no common list below cur can exist (the common set is a
        subset of both arrays).  The remainder — both sides probe
        something below cur — takes the full p×p intersection check,
        chunked so the (m, p, p) temporary stays bounded."""
        fast = (pa.min(axis=1) == cur) | (pb.min(axis=1) == cur)
        out = fast.copy()
        rest = np.nonzero(~fast)[0]
        big = np.iinfo(np.int64).max
        for lo in range(0, len(rest), 1_000_000):
            idx = rest[lo : lo + 1_000_000]
            a, b = pa[idx], pb[idx]
            common = np.where(a[:, :, None] == b[:, None, :], a[:, :, None], big)
            out[idx] = common.min(axis=(1, 2)) == cur
        return out

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        m = np.array(list(pdf["v"]), dtype=np.float64)[order]
        probes = np.array(list(pdf["probes"]), dtype=np.int64)[order]
        cur = int(pdf["list_id"].iloc[0])
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        nsafe = np.where(norms == 0, 1.0, norms)
        out_a, out_b, out_c = [], [], []
        step = _slab_rows(len(ids), slab_budget)
        for lo in range(0, len(ids), step):
            hi = min(lo + step, len(ids))
            # dot on UNNORMALIZED rows then one divide by na*nb — the
            # op order of semantic_dedup's kernel AND the SQL oracle
            # (dot/(na·nb)), chosen so the DuckDB twin
            # replays this value exactly.  embedding_neardup's kernels
            # normalize rows BEFORE the matmul — a different FP op
            # order whose last-ulp residual can flip a round-6 value
            # at an exact half boundary; the subset/bit-match contract
            # vs embedding_neardup is therefore pinned up to one
            # round-6 ulp (tests/test_ann_swap.py), not bit-for-bit.
            sims = m[lo:hi] @ m.T
            np.divide(sims, nsafe[lo:hi] * nsafe.T, out=sims)
            ii, jj, s = _round6_select(sims, min_cosine)
            keep = ids[jj] > ids[lo + ii]  # emit id_a < id_b once
            ii, jj, s = ii[keep], jj[keep], s[keep]
            # emit-once: only the lowest co-probed list emits the pair
            emit = _canonical_mask(probes[lo + ii], probes[jj], cur)
            out_a.append(ids[lo + ii[emit]])
            out_b.append(ids[jj[emit]])
            out_c.append(s[emit])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    # no distinct: the canonical-list rule already makes every pair
    # unique — the scoring stage's output flows straight to the
    # consumer (or its persist) with zero additional exchange
    return probed.groupBy("list_id").applyInPandas(
        score, "id_a long, id_b long, cosine double"
    )

def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.995,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "kernel",
    block_rows: int = 2048,
    fine_centroids: list[list[float]] | None = None,
    nprobe: int = 3,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with a coarse quantizer, then
    WITHIN each cluster drop every vector whose cosine similarity to a
    lower-id vector in the same cluster exceeds `threshold`.

    Returns (vec_id, cluster_id, kept) for every input row.

    Divergence from the paper, documented: the paper keeps the member
    farthest from the centroid of each similar group (a greedy,
    order-dependent rule); this uses the keep-smallest-id dominance rule
    shared by every dedup operator in this engine (`exact_dup_groups`,
    `embedding_neardup_pairs` consumers) — deterministic, engine-portable,
    and independent of visit order.

    Scale shape — the whole point of SemDeDup's clustering: candidates
    are Σ|cluster|² instead of n², and the intra-cluster scoring is a
    BLAS matmul, not a per-pair expression.  Centroid assignment is the
    shared probe kernel (`probed_lists`, nprobe=1) — the corpus is never
    collected and the cluster key is available map-side, so each vector
    shuffles once into its cluster's task.

    strategy='kernel' (default): applyInPandas per cluster_id — the
    cluster's matrix scores itself in `block_rows`-row blocks (one
    B×|c| sims slab in memory at a time; 50M interpreted per-pair folds
    at sf1 took 206 s, the matmul takes ~1 s).  Memory per task is
    block_rows×|c| doubles; a cluster whose |c| breaks that budget is
    the skew knob — raise n_lists until clusters fit (the paper runs
    50k clusters for LAION-440M).  The DuckDB oracle's self-join replay
    is the reference.

    strategy='ann' (the runnable scale swap, VERDICT r9 task 1): when a
    cluster is too large for Σ|c|² — the operator's declared failure
    mode — candidate pairs come from `ann_candidate_pairs` over a FINER
    codebook (`fine_centroids`, `nprobe` probes) instead of all
    intra-cluster pairs; a vector is dropped when a verified candidate
    partner with a LOWER id shares its PRIMARY cluster (the same
    dominance rule).  Approximate: dropped ⊆ the kernel path's dropped
    (so kept ⊇ kept-exact); the drop recall is pinned by
    tests/test_ann_swap.py.  Per-task memory becomes one fine list, not
    one coarse cluster.  The (id, cluster) map is broadcast to both
    sides of the pair join up to 4 M vectors, and shuffle-joined above.

    ``candidate_pairs`` (ann only): a pre-computed
    `ann_candidate_pairs`-shaped frame (id_a, id_b, cosine) generated
    at a min_cosine <= `threshold`, reused instead of probing again —
    the caller-side dedup of the probe pass when several consumers
    share one codebook (q_neardup_ann shares 'pairs' and 'sem' this
    way at scales where the adaptive K rules coincide).  Filtered to
    cosine >= threshold here, so a looser-threshold frame yields the
    same result as an in-place probe with the same codebook (the
    candidate set is threshold-independent; only the emit filter
    moves).  PRECONDITIONS the caller owns (unverifiable from the
    frame itself, ADVICE r11): the frame was generated at min_cosine
    <= `threshold` (a tighter frame silently under-drops) and over the
    codebook the caller intends (a wrong-codebook frame changes which
    pairs were ever candidates).  Passing it with strategy='kernel'
    raises — that path would silently ignore it."""
    if strategy not in ("kernel", "ann"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if candidate_pairs is not None and strategy != "ann":
        raise ValueError(
            "candidate_pairs is only consumed by strategy='ann'; the "
            f"'{strategy}' path would silently ignore it"
        )
    # cluster assignment through the shared probe stage (nprobe=1)
    assigned = probed_lists(
        spread_small_scan(
            emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        ),
        centroids,
        1,
    ).select(F.col("id").alias(id_col), "v", F.col("list_id").alias("cluster_id"))
    if strategy == "ann":
        if candidate_pairs is not None:
            pairs = candidate_pairs.filter(F.col("cosine") >= threshold)
        elif fine_centroids is None:
            raise ValueError("strategy='ann' requires fine_centroids")
        else:
            pairs = ann_candidate_pairs(
                emb, fine_centroids, nprobe, threshold, id_col, vec_col
            )
        # The candidate set is the BIG side (pairs >> vectors, always);
        # a shuffle join would move every candidate pair TWICE (once
        # per id side) — at sf100/nprobe=6 those two exchanges helped
        # blow the disk budget (r12).  The cluster map is (id, int32)
        # rows — ~30 MB at 2 M vectors — so broadcast it and keep the
        # pair stream entirely map-side, up to 4 M vectors (~64 MB
        # plan-side); beyond that the shuffle join takes over.
        small = emb.count() <= 4_000_000

        def cluster_of(id_name: str, cluster_name: str) -> DataFrame:
            m = assigned.select(
                F.col(id_col).alias(id_name), F.col("cluster_id").alias(cluster_name)
            )
            return F.broadcast(m) if small else m

        dropped = (
            pairs.join(cluster_of("id_a", "ca"), "id_a")
            .join(cluster_of("id_b", "cb"), "id_b")
            .filter(F.col("ca") == F.col("cb"))  # same-primary-cluster dominance
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        return assigned.join(
            dropped.withColumn("d", F.lit(True)), id_col, "left"
        ).select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("d"), F.lit(True)).alias("kept"),
        )

    import numpy as np
    import pandas as pd

    from hogzilla_spark.operators.dedup import (
        _SIMS_SLAB_BYTES,
        _round6_select,
        _slab_rows,
    )

    slab_budget = _SIMS_SLAB_BYTES  # captured at plan build

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        m = np.array(list(pdf["v"]), dtype=np.float64)[order]
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        nsafe = np.where(norms == 0, 1.0, norms)
        dropped = np.zeros(len(ids), dtype=bool)
        # bound the slab absolutely, not just by block_rows: on a huge
        # cluster block_rows×|c| doubles can exceed executor memory
        # (the sf10 lesson shared with embedding_neardup)
        step = min(block_rows, _slab_rows(len(ids), slab_budget))
        for lo in range(0, len(ids), step):
            hi = min(lo + step, len(ids))
            # dot(a,b) on UNNORMALIZED rows, then ONE divide by na*nb —
            # the oracle's op order (dot/(na*nb)), so the ROUND(...,6)
            # boundary cannot flip from pre-normalization rounding.
            # (Residual tolerance: BLAS accumulates the dot sum in a
            # different order than a sequential fold — that last-ulp
            # difference is shared by every matmul kernel in this module
            # and covered by the 1e-9 slack in _round6_select.)
            sims = m[lo:hi] @ m.T
            # in-place divide: the naive expression holds product,
            # divisor AND quotient at once (3 slabs — defeating the
            # budget); this peaks at 2 (sims + the outer product)
            np.divide(sims, nsafe[lo:hi] * nsafe.T, out=sims)
            # candidate-select then exact SQL-ROUND-6, matching the
            # oracle (see _round6_select)
            ii, jj, _ = _round6_select(sims, threshold)
            hit = ids[jj] < ids[lo + ii]  # a lower id dominates
            dropped[lo + ii[hit]] = True
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": pdf["cluster_id"].iloc[0],
                "kept": ~dropped,
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        score, f"{id_col} long, cluster_id int, kept boolean"
    )
