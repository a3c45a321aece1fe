"""Properties of the oracle harness's chunk-streamed digest mode: the
commutative row-hash must be order- and chunking-invariant, detect any
single-value change, and track int/float dtype-family drift."""

import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))

from oracle_check import _digest_chunks, _exact_pandas


def test_digest_order_and_chunk_invariant():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    b = pd.DataFrame({"x": [3, 1, 2], "y": ["c", "a", "b"]})
    rows_a, cols_a, _, dig_a = _digest_chunks(iter([a]))
    rows_b, _, _, dig_b = _digest_chunks(iter([b]))
    assert (rows_a, dig_a) == (rows_b, dig_b)
    rows_c, _, _, dig_c = _digest_chunks(iter([a.iloc[:1], a.iloc[1:]]))
    assert (rows_c, dig_c) == (rows_a, dig_a)
    assert cols_a == ["x", "y"]


def test_digest_detects_value_change():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    c = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "Z"]})
    assert _digest_chunks(iter([a]))[3] != _digest_chunks(iter([c]))[3]


def test_digest_flags_dtype_family():
    a = pd.DataFrame({"x": [1, 2, 3]})
    f = pd.DataFrame({"x": [1.0, 2.0, 3.0]})
    assert _digest_chunks(iter([a]))[2] == {"x": "i"}
    assert _digest_chunks(iter([f]))[2] == {"x": "f"}


def test_digest_nulls_and_floats():
    import numpy as np

    a = pd.DataFrame({"x": [1.5, np.nan], "s": ["a", None]})
    b = pd.DataFrame({"x": [np.nan, 1.5], "s": [None, "a"]})
    assert _digest_chunks(iter([a]))[3] == _digest_chunks(iter([b]))[3]


def test_digest_nullable_int_chunk_invariant():
    """arrow→pandas turns an int64 chunk WITH nulls into float64 but
    leaves a null-free chunk int64 — producers convert through
    `_exact_pandas` (ints → nullable Int64) so chunking placement of
    nulls cannot change the hash (found in review; the exact-int hash
    path replaced the earlier float64 canonicalization)."""
    import pyarrow as pa

    def batches(*slices):
        return iter([_exact_pandas(s) for s in slices])

    t = pa.table({"x": pa.array([None, 7, 8], type=pa.int64())})
    one = _digest_chunks(batches(t))
    two = _digest_chunks(batches(t.slice(0, 1), t.slice(1, 2)))
    assert one[3] == two[3] and one[0] == two[0] == 3
    # the digest is commutative, so [None, 7] and [7, None] are the
    # same multiset of (value, nullness) rows and digest EQUAL — while
    # null vs zero (the w table below) must still differ
    u = pa.table({"x": pa.array([None, 7], type=pa.int64())})
    v = pa.table({"x": pa.array([7, None], type=pa.int64())})
    assert _digest_chunks(batches(u))[3] == _digest_chunks(batches(v))[3]
    w = pa.table({"x": pa.array([0, 7], type=pa.int64())})
    assert _digest_chunks(batches(u))[3] != _digest_chunks(batches(w))[3]


def test_digest_nullable_bool_chunk_invariant():
    """Same bug class as the nullable-int fix: arrow→pandas turns a
    bool chunk WITH nulls into object (hashing 'True'/'False' strings)
    but leaves a null-free chunk bool (hashing 1.0/0.0 on the float
    path) — producers convert through `_exact_pandas` (bools →
    nullable BooleanDtype, hashed on the exact value+mask path) so
    null placement across chunks cannot change the digest."""
    import pyarrow as pa

    def batches(*slices):
        return iter([_exact_pandas(s) for s in slices])

    t = pa.table({"x": pa.array([None, True, False], type=pa.bool_())})
    one = _digest_chunks(batches(t))
    two = _digest_chunks(batches(t.slice(0, 1), t.slice(1, 2)))
    three = _digest_chunks(batches(t.slice(0, 2), t.slice(2, 1)))
    assert one[3] == two[3] == three[3] and one[0] == 3
    assert one[2] == {"x": "i"}  # same family _arrow_kinds reports
    # null vs False must differ
    u = pa.table({"x": pa.array([None, True], type=pa.bool_())})
    w = pa.table({"x": pa.array([False, True], type=pa.bool_())})
    assert _digest_chunks(batches(u))[3] != _digest_chunks(batches(w))[3]


def test_digest_int_exact_beyond_2_53():
    """Integers past 2^53 hash EXACTLY (the old float64 canonical form
    was lossy there and the guard refused sf100 a_rollups sums): two
    values that collide in float64 must produce different digests."""
    import pyarrow as pa

    big = 2**60
    a = pa.table({"x": pa.array([big], type=pa.int64())})
    b = pa.table({"x": pa.array([big + 1], type=pa.int64())})
    assert float(big) == float(big + 1)  # the float64 collision is real
    da = _digest_chunks(iter([_exact_pandas(a)]))[3]
    db = _digest_chunks(iter([_exact_pandas(b)]))[3]
    assert da != db


def test_digest_null_not_conflated_with_none_string():
    a = pd.DataFrame({"s": [None]})
    b = pd.DataFrame({"s": ["None"]})
    assert _digest_chunks(iter([a]))[3] != _digest_chunks(iter([b]))[3]


def test_input_shard_guard_catches_misapplied_key(monkeypatch):
    """DUCKDB_SHARD_INPUT is only valid when the query output is
    row-per-shard-key.  A global aggregate sharded on input answers K
    partial queries whose commutative digests would silently sum into a
    'verified' total — the unsharded-COUNT(*) guard must refuse it."""
    import pytest

    from oracle_check import _duck_digest_subprocess

    monkeypatch.setenv("DUCKDB_SHARD_INPUT", "documents:doc_id")
    with pytest.raises(RuntimeError, match="input-shard guard"):
        _duck_digest_subprocess(
            "/root/testdata/sf0.001",
            "SELECT COUNT(*) AS n FROM documents",
            shards=4,
        )


def test_input_shard_guard_passes_row_per_key(monkeypatch):
    """A genuinely row-per-key query sharded on its key must still pass
    the guard, and the sharded digest must equal the unsharded one."""
    from oracle_check import _duck_digest_subprocess

    sql = "SELECT doc_id, length(text) AS n FROM documents"
    rows_u, cols_u, _, dig_u = _duck_digest_subprocess(
        "/root/testdata/sf0.001", sql
    )
    monkeypatch.setenv("DUCKDB_SHARD_INPUT", "documents:doc_id")
    rows_s, cols_s, _, dig_s = _duck_digest_subprocess(
        "/root/testdata/sf0.001", sql, shards=4
    )
    assert (rows_s, cols_s, dig_s) == (rows_u, cols_u, dig_u)
