"""r13 ADVICE fixes on the ANN probe stage: ONE rounding convention for
probe distances (round6u: floor(d*1e6+0.5)) in the Arrow probe kernel;
id-type derivation in the kernel's schema; and the hyperplane
plane-count guard."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hogzilla_spark.operators import similarity as SIM

def _tie_values():
    """Doubles whose *1e6 scaled float lands EXACTLY on n+0.5 — the
    half-tie class where rounding conventions disagree.  Searched over
    dyadics (exactly representable), e.g. 1/128 -> 7812.5."""
    out = []
    for denom_bits in (7, 8, 9, 10, 12):
        for k in range(1, 2 ** min(denom_bits, 11), 2):
            d = k / (2.0**denom_bits)
            y = d * 1e6
            if y - np.floor(y) == 0.5:
                out.append(d)
    assert len(out) >= 3, out  # non-vacuous adversarial set
    return out

def test_kernel_rounding_is_round6u_not_npround(spark):
    """At an exact scaled half, the kernel's floor(d*1e6+0.5) must agree
    with the round6u expression (the repo's portable convention and the
    DuckDB twin's float-math ROUND class) — and np.round (half-even)
    provably disagrees on this set, so the unification has teeth."""
    ties = _tie_values()
    kern = np.floor(np.array(ties) * 1e6 + 0.5)
    # the Spark-side round6u on the same literals
    df = spark.createDataFrame([(float(d),) for d in ties], "d double")
    from hogzilla_spark.functions.scalar import round6u

    spark_vals = [r[0] for r in df.select(round6u(F.col("d")).alias("r")).collect()]
    assert list(kern / 1e6) == spark_vals
    # np.round half-even disagrees somewhere on the tie set
    assert any(
        np.round(d, 6) != f / 1e6 for d, f in zip(ties, kern)
    ), "tie set did not exercise the half-even divergence"

#: Ordered probe lists (nearest first) of the 64 tie-grid vectors, by id:
#: the output of the retired Column-expression probe path (array_sort
#: over (round6u distance, list id)), frozen when that path was deleted.
#: The kernel produced the same lists at that commit.
_TIE_GRID_PROBES = [
    (0, 2), (3, 1), (0, 1), (1, 2), (1, 0), (1, 0), (3, 2), (2, 1),
    (1, 2), (2, 0), (0, 2), (0, 1), (1, 0), (3, 0), (1, 2), (2, 0),
    (1, 2), (2, 3), (2, 0), (3, 0), (2, 1), (2, 3), (1, 0), (3, 1),
    (1, 0), (1, 3), (0, 2), (3, 0), (2, 0), (2, 0), (1, 2), (1, 0),
    (1, 2), (0, 3), (3, 0), (3, 2), (0, 1), (0, 3), (2, 3), (3, 0),
    (1, 0), (1, 3), (1, 0), (0, 1), (0, 1), (3, 1), (0, 3), (3, 0),
    (1, 2), (1, 0), (1, 0), (1, 2), (0, 2), (0, 3), (0, 3), (1, 0),
    (0, 1), (3, 1), (2, 0), (2, 3), (1, 0), (2, 1), (1, 3), (2, 0),
]

def test_probe_kernel_on_ties_golden(spark):
    """End-to-end probe selection on vectors ENGINEERED to produce
    half-tie distances: the kernel must pick the frozen probe lists
    (r12's np.round-vs-F.round combination could flip these)."""
    dim = 64
    # coordinates on a 1/16 grid -> sequential-fold distances are exact
    # dyadics; many land on scaled halves (verified non-vacuously below)
    rng = np.random.RandomState(7)
    vecs = rng.randint(-8, 9, size=(64, dim)) / 16.0
    cents = [list(map(float, vecs[i])) for i in (0, 5, 9, 13)]
    m = vecs
    acc = np.zeros((len(m), len(cents)))
    for k in range(dim):
        diff = m[:, k, None] - np.array(cents)[None, :, k]
        acc += diff * diff
    y = acc * 1e6
    assert ((y - np.floor(y)) == 0.5).any(), "grid produced no half-ties"

    rows = [(int(i), [float(x) for x in m[i]]) for i in range(len(m))]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = SIM.probed_lists(df, cents, 2).collect()
    assert {(r.id, tuple(r.probes)) for r in out} == set(enumerate(_TIE_GRID_PROBES))
    assert {(r.id, r.list_id) for r in out} == {
        (i, l) for i, p in enumerate(_TIE_GRID_PROBES) for l in p
    }

def test_probed_lists_preserves_id_type(spark):
    """ADVICE r12: the kernel schema must derive the id type from the
    input — string doc ids flow through unchanged."""
    rows = [(f"doc-{i}", [float(i % 3), 1.0, 0.5]) for i in range(30)]
    df = spark.createDataFrame(rows, "id string, v array<double>")
    cents = [[0.0, 1.0, 0.5], [2.0, 1.0, 0.5]]
    out = SIM.probed_lists(df, cents, 1)
    assert out.schema["id"].dataType.simpleString() == "string"
    got = {r.id for r in out.collect()}
    assert got == {f"doc-{i}" for i in range(30)}

def test_hyperplane_signature_plane_count_guard():
    """ADVICE r12: >=31 planes would overflow the int32 bit weights —
    the operator must refuse instead of wrapping/raising deep in numpy,
    with an exception that survives ``python -O``."""
    planes = [[1.0, 0.0]] * 31
    with pytest.raises(ValueError, match="at most 30 planes"):
        SIM.hyperplane_signature(F.col("v"), planes)
