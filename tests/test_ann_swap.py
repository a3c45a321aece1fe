"""The ANN-backed swap for the declared-quadratic similarity members
(VERDICT r9 task 1): IVF multi-probe candidates + exact cosine verify.

Contract under test:
  - ann_candidate_pairs output is a SUBSET of the exact operator's
    pairs at the same threshold (verification is exact, so approximation
    can only LOSE pairs, never invent them), with recall >= 0.9 on the
    gate-scale corpus (measured 0.966 at sf0.01, K=8/nprobe=3);
  - semantic_dedup(strategy='ann') keeps a SUPERSET of the kernel
    path's kept set (dropped ⊆ dropped-exact) with drop recall >= 0.85
    (measured 0.966);
  - the adaptive codebook convention is deterministic and matches the
    SQL twin's closed form;
  - the probe kernel (large codebooks, no SQL twin at those scales)
    reproduces the retired expression path's frozen outputs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hogzilla_spark.operators import dedup as DD
from hogzilla_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _centroids(emb, ids):
    rows = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(*ids)).collect()
    }
    return [rows[i] for i in ids]


def test_adaptive_centroid_ids_convention():
    # gate scale: 500 vectors -> the 8-centroid floor at stride 62
    assert SIM.adaptive_centroid_ids(500) == [3 + 62 * i for i in range(8)]
    # sf100: 2M vectors -> K=800, per-list ~2500 rows
    ids = SIM.adaptive_centroid_ids(2_000_000)
    assert len(ids) == 800
    assert ids[0] == 3 and ids[1] - ids[0] == 2_000_000 // 800
    assert ids[-1] < 2_000_000


def test_adaptive_centroid_ids_rejects_tiny_corpora():
    """ADVICE r10 (similarity.py:261): for small n the closed form used
    to emit ids >= n (n=10 -> last id 10; n=16 -> 17), so callers that
    materialize centroid rows hit KeyError or silently build a short
    codebook that diverges from the SQL twin.  The convention now raises
    below its documented floor instead of clamping (a clamp would change
    the codebook and desync the twin's closed form)."""
    import pytest

    for n in (1, 10, 16, 24):
        with pytest.raises(ValueError, match="too small|non-empty"):
            SIM.adaptive_centroid_ids(n)
    with pytest.raises(ValueError, match="non-empty"):
        SIM.adaptive_centroid_ids(0)
    # the documented floor and everything above it stays in range
    for n in (25, 26, 32, 100, 20_001):
        ids = SIM.adaptive_centroid_ids(n)
        assert ids[-1] < n and len(set(ids)) == len(ids)


def test_ann_pairs_subset_of_exact_with_recall(spark):
    emb = _emb(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in DD.embedding_neardup_pairs(emb, min_cosine=0.4).collect()
    }
    assert exact, "gate corpus must have exact near-dup pairs"
    cents = _centroids(emb, SIM.adaptive_centroid_ids(emb.count()))
    ann = {
        (r.id_a, r.id_b)
        for r in SIM.ann_candidate_pairs(
            emb, cents, nprobe=3, min_cosine=0.4
        ).collect()
    }
    assert ann <= exact  # exact verify: no false pairs, ever
    assert len(ann) / len(exact) >= 0.9


def test_ann_pair_cosines_match_exact(spark):
    """For every pair the ANN path surfaces, its cosine must equal the
    exact operator's value to within one round-6 ulp.  Not bit-for-bit:
    ann_candidate_pairs shares the SQL oracle's op order (unnormalized
    dot, one divide by na·nb) while embedding_neardup normalizes rows
    before the matmul — a different FP op order whose last-ulp residual
    can flip a round-6 half boundary (ADVICE r10).  On this corpus the
    values are in fact identical; the tolerance pins the documented
    contract, the counter pins the observed one."""
    emb = _emb(spark)
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in DD.embedding_neardup_pairs(emb, min_cosine=0.4).collect()
    }
    cents = _centroids(emb, SIM.adaptive_centroid_ids(emb.count()))
    rows = SIM.ann_candidate_pairs(emb, cents, nprobe=3, min_cosine=0.4).collect()
    assert rows
    mismatched = 0
    for r in rows:
        got = exact[(r.id_a, r.id_b)]
        assert abs(got - r.cosine) <= 1.000001e-6  # one round-6 ulp
        mismatched += got != r.cosine
    assert mismatched == 0  # observed: identical on the gate corpus


def test_planted_band_recall_production(spark):
    """VERDICT r10 task 1: recall in the production cosine band
    [0.85, 0.99) was untested — the synthetic corpus has no pairs
    between its noise floor (~0.70) and exact duplicates (1.0).  Plant
    perturbed near-duplicates at exact target cosines (ground truth by
    construction, no exact twin needed) and pin per-band recall.

    Measured: 1.0 in every band at this scale (ANN_RECALL.json
    planted_band_recall also records 0.92/0.95/0.99/0.9995 at sf10
    under the large-codebook kernel path).  Pins are conservative:
    >= 0.95 at cos >= 0.90 (the VERDICT's suggested bound), >= 0.90
    at 0.85."""
    import numpy as np
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.ann_recall import plant_near_duplicates

    emb = _emb(spark)
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float32)
    bands = (0.85, 0.90, 0.95, 0.99)
    planted, src_ids, targets = plant_near_duplicates(mat, ids, bands, per_band=25)
    new_ids = np.arange(ids.max() + 1, ids.max() + 1 + len(planted))
    aug = emb.unionByName(
        emb.sparkSession.createDataFrame(
            [
                (int(i), [float(x) for x in v], -1)
                for i, v in zip(new_ids, planted)
            ],
            emb.schema,
        )
    )
    n_total = len(ids) + len(planted)
    cents = _centroids(aug, SIM.adaptive_centroid_ids(n_total))
    got = {
        (r.id_a, r.id_b)
        for r in SIM.ann_candidate_pairs(
            aug, cents, nprobe=3, min_cosine=0.8
        ).collect()
    }
    for c, floor in zip(bands, (0.90, 0.95, 0.95, 0.95)):
        sel = targets == c
        pairs = {
            (min(int(a), int(b)), max(int(a), int(b)))
            for a, b in zip(src_ids[sel], new_ids[sel])
        }
        recall = len(pairs & got) / len(pairs)
        assert recall >= floor, f"band {c}: recall {recall} < {floor}"


def test_semantic_dedup_ann_superset_kept(spark):
    emb = _emb(spark)
    coarse = _centroids(emb, [3 + 64 * i for i in range(8)])
    fine = _centroids(emb, [3 + 32 * i for i in range(16)])
    kex = {
        r.vec_id: (r.cluster_id, r.kept)
        for r in SIM.semantic_dedup(emb, coarse, threshold=0.35).collect()
    }
    kann = {
        r.vec_id: (r.cluster_id, r.kept)
        for r in SIM.semantic_dedup(
            emb, coarse, threshold=0.35, strategy="ann",
            fine_centroids=fine, nprobe=3,
        ).collect()
    }
    assert set(kex) == set(kann)
    # cluster assignment identical; drops are a subset
    drops_ex = {k for k, (_, kept) in kex.items() if not kept}
    drops_ann = {k for k, (_, kept) in kann.items() if not kept}
    for k in kex:
        assert kex[k][0] == kann[k][0]
    assert drops_ann <= drops_ex
    assert drops_ex, "gate corpus must exercise the drop path"
    assert len(drops_ann) / len(drops_ex) >= 0.85


def _digest(df):
    import hashlib

    rows = sorted(map(repr, df.collect()))
    return (
        df.schema.simpleString(),
        len(rows),
        hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    )


# Goldens: the outputs of the retired Column-expression probe path
# (argmin of round6u squared L2 over the centroid constants, ties on
# list id) on these exact inputs, frozen when that path was deleted —
# sha256 over the sorted row reprs, plus the schema and row count.  The
# kernel produced the identical rows at that commit.


def test_kernel_assignment_matches_expression_path(spark):
    """A 40-centroid codebook (the large-codebook shape, ~50k literals
    as an expression): the probe kernel's verified pair set equals the
    expression path's frozen pairs."""
    emb = _emb(spark)
    cents = _centroids(emb, [3 + 12 * i for i in range(40)])
    got = _digest(SIM.ann_candidate_pairs(emb, cents, nprobe=3, min_cosine=0.4))
    assert got == (
        "struct<id_a:bigint,id_b:bigint,cosine:double>",
        40,
        "32ce589745f0543f06bd5a3ac5b9defbc2ac5a22bff9faa096d50e4e2ae3471d",
    )


def test_ivf_topk_kernel_matches_expression_path(spark):
    """ann_ivf_topk probes through the kernel on both sides (corpus
    assignment at nprobe=1, queries at nprobe=2); full result rows
    (query_id, neighbor_id, cosine, rank) equal the expression path's
    frozen rows, which the DuckDB oracle also replays."""
    emb = _emb(spark)
    cents = _centroids(emb, [3 + 62 * i for i in range(8)])
    queries = emb.filter(F.col("vec_id") < 10)
    got = _digest(SIM.ann_ivf_topk(emb, queries, nprobe=2, k=5, centroids=cents))
    assert got == (
        "struct<query_id:bigint,neighbor_id:bigint,cosine:double,rank:int>",
        50,
        "7ccfaf64cf5c1a903cea280796f57285ecb6251ff45fb15baff740bcc559c8e0",
    )


def test_shared_probe_pass_matches_two_runs(spark):
    """VERDICT r10 task 4: q_neardup_ann shares ONE probe/score pass
    between 'pairs' and 'sem' when the adaptive K rules coincide
    (n >= 40k), by generating candidates once at the looser threshold.
    The candidate set is threshold-independent — only the emit filter
    moves — so (a) a loose run filtered to the tight threshold equals
    the tight run, and (b) semantic_dedup fed the loose frame via
    candidate_pairs equals its own-probe form on the same codebook."""
    emb = _emb(spark)
    cb = _centroids(emb, [3 + 31 * i for i in range(16)])
    coarse = _centroids(emb, [3 + 64 * i for i in range(8)])
    # assign the checkpoint (ADVICE r11: localCheckpoint returns a new
    # frame — the discarded-result form recomputed the probe pass in
    # each of the three consumers below)
    loose = SIM.ann_candidate_pairs(emb, cb, nprobe=3, min_cosine=0.35)
    loose = loose.localCheckpoint()
    tight = {
        (r.id_a, r.id_b, r.cosine)
        for r in SIM.ann_candidate_pairs(
            emb, cb, nprobe=3, min_cosine=0.4
        ).collect()
    }
    via_filter = {
        (r.id_a, r.id_b, r.cosine)
        for r in loose.filter(F.col("cosine") >= 0.4).collect()
    }
    assert via_filter == tight and tight
    own = {
        (r.vec_id, r.cluster_id, r.kept)
        for r in SIM.semantic_dedup(
            emb, coarse, threshold=0.35, strategy="ann",
            fine_centroids=cb, nprobe=3,
        ).collect()
    }
    shared = {
        (r.vec_id, r.cluster_id, r.kept)
        for r in SIM.semantic_dedup(
            emb, coarse, threshold=0.35, strategy="ann", candidate_pairs=loose
        ).collect()
    }
    assert shared == own
    assert any(not kept for _, _, kept in own)  # non-vacuous drop path


def test_semantic_dedup_ann_requires_fine_centroids(spark):
    import pytest

    emb = _emb(spark)
    coarse = _centroids(emb, [3 + 64 * i for i in range(8)])
    with pytest.raises(ValueError, match="fine_centroids"):
        SIM.semantic_dedup(emb, coarse, strategy="ann")


def test_semantic_dedup_rejects_candidate_pairs_off_ann(spark):
    """ADVICE r11 (similarity.py): candidate_pairs passed with a
    non-ann strategy used to be silently ignored — the caller believed
    the shared probe pass was consumed while the kernel path recomputed
    everything (and a wrong-threshold frame would have under-dropped
    silently on the ann path).  Now it raises."""
    import pytest

    emb = _emb(spark)
    coarse = _centroids(emb, [3 + 64 * i for i in range(8)])
    cb = _centroids(emb, [3 + 31 * i for i in range(16)])
    cand = SIM.ann_candidate_pairs(emb, cb, nprobe=3, min_cosine=0.35)
    with pytest.raises(ValueError, match="strategy='ann'"):
        SIM.semantic_dedup(
            emb, coarse, threshold=0.35, strategy="kernel", candidate_pairs=cand
        )


def test_adaptive_nprobe_pairs_with_codebook():
    """VERDICT r11 task 1: the SHIPPED configuration must meet the
    documented 0.95 production-band recall bar at every scale, so
    nprobe is paired with the adaptive codebook size instead of being
    a fixed 3.  Pins the calibrated endpoints from ANN_RECALL.json's
    planted_band_recall ladder:

      - every oracle/gate scale keeps nprobe=3 (K=8/9/16 at sf<=1,
        K=80/84 at sf10 where nprobe=3 measured 0.95 recall at
        cos>=0.90) — so every recorded oracle row is unchanged;
      - sf100's K=808 maps to nprobe=6, the measured recall-meeting
        config (0.959/0.984/0.999/1.0 at cos 0.85/0.90/0.95/0.99),
        not the 0.74-at-0.85 nprobe=3 band;
      - the SQL twin's closed form GREATEST(3, FLOOR(k/135.0 + 0.5))
        replays the python rule exactly (portable half-up, the round6u
        convention)."""
    import duckdb

    for k in (8, 9, 16, 24, 80, 84):
        assert SIM.adaptive_nprobe(k) == 3
    assert SIM.adaptive_nprobe(808) == 6
    # adaptive_centroid_ids(2.02M incl. planted rows) -> K=808: the
    # exact pairing the sf100 bench + recall rows record
    assert SIM.adaptive_nprobe(len(SIM.adaptive_centroid_ids(2_000_000))) == 6
    # monotone, never below the floor
    last = 0
    for k in range(1, 2001, 7):
        v = SIM.adaptive_nprobe(k)
        assert v >= 3 and v >= last
        last = v
    # SQL twin closed form replays the python rule bit-for-bit
    con = duckdb.connect()
    got = con.execute(
        "SELECT k, GREATEST(3, CAST(FLOOR(k/135.0 + 0.5) AS BIGINT)) "
        "FROM range(1, 2001) t(k)"
    ).fetchall()
    for k, sql_v in got:
        assert sql_v == SIM.adaptive_nprobe(k), k


def test_emit_once_no_duplicate_pairs(spark):
    """r12: the global distinct() is gone — each pair must be emitted
    exactly once, in the lowest list id both sides co-probe.  (At
    sf100/nprobe=6 the distinct's exchange reshuffled a ~4x candidate
    stream and blew the disk budget; the canonical-list rule removes
    that exchange while keeping the pair set identical — the gate
    oracle pins set equality against the DISTINCT SQL twin.)"""
    emb = _emb(spark)
    cents = _centroids(emb, SIM.adaptive_centroid_ids(emb.count()))
    rows = SIM.ann_candidate_pairs(
        emb, cents, nprobe=3, min_cosine=0.35
    ).collect()
    keys = [(r.id_a, r.id_b) for r in rows]
    assert len(keys) == len(set(keys)) > 0
