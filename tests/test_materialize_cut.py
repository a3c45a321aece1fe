"""Focused tests for the r13 optimization primitives (VERDICT r12
tasks 1+2): the work-aware `spread_small_scan` and the gated,
fault-tolerant `materialize_cut`."""

import pytest
from pyspark.sql import functions as F

from hogzilla_spark.sources.catalog import (
    materialize_cut,
    plan_input_bytes,
    spread_small_scan,
)

SF = "/root/testdata/sf0.001"

def test_plan_input_bytes_tracks_file_size(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    est = plan_input_bytes(docs)
    assert est is not None and 0 < est < 10 * 1024 * 1024
    # survives a narrow select
    sel = docs.select("doc_id")
    assert plan_input_bytes(sel) == est
    # a localCheckpoint boundary resolves to the ACTUAL cached block
    # bytes (deserialized in-memory size, not file bytes) — nonzero and
    # same order of magnitude, never the junk preserved estimate
    ck = docs.localCheckpoint(eager=True)
    got = plan_input_bytes(ck)
    assert got is not None and 0 < got < 100 * est, (got, est)

def test_spread_small_scan_min_bytes_gate(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # far above the file size: unchanged frame, no exchange
    out = spread_small_scan(docs, min_bytes=1 << 30)
    assert out is docs
    # gate off: the floor fires up to defaultParallelism
    spread = spread_small_scan(docs)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

def test_spread_small_scan_bytes_per_task_cap(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    est = plan_input_bytes(docs)
    per_task = max(1, est // 4)
    out = spread_small_scan(docs, bytes_per_task=per_task)
    got = out.rdd.getNumPartitions()
    want = min(
        spark.sparkContext.defaultParallelism,
        max(2, -(-est // per_task)),
    )
    assert got == want, (got, want, est)

def test_materialize_cut_gated_stays_lazy_below_gate(spark):
    agg = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = materialize_cut(agg)  # default gate = 256 MiB >> test scale
    assert out is agg  # no materialization job, no new frame

def test_materialize_cut_always_localcheckpoints_below_gate(spark):
    agg = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = materialize_cut(agg, always=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan  # lineage cut, plan is one scan
    assert "Exchange" not in plan

def test_materialize_cut_fires_reliable_above_gate(spark, monkeypatch):
    """Forced gate: the cut must produce a checkpoint-backed frame with
    the SAME flat plan shape as localCheckpoint (the plan guards depend
    on it) and identical rows, while the checkpoint is RELIABLE (files
    under the checkpoint dir, not executor-local blocks)."""
    monkeypatch.setenv("HZ_CUT_MIN_INPUT_BYTES", "0")
    agg = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expect = sorted(tuple(r) for r in agg.collect())
    out = materialize_cut(agg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Exchange" not in plan
    assert sorted(tuple(r) for r in out.collect()) == expect
    # reliable: the backing lineage bottoms out in a ReliableCheckpointRDD
    # (files under the checkpoint dir), not executor-local blocks
    debug = out.rdd.toDebugString().decode()
    assert "ReliableCheckpointRDD" in debug, debug
    assert spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()

def test_dedup_eager_pair_sets_still_materialize(spark):
    """q_dedup_minhash-class wins depend on the pair set materializing
    at EVERY size (always=True): the returned frame must not re-run the
    LSH self-join per consumer."""
    from hogzilla_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = minhash_lsh_pairs(docs, min_jaccard=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Exchange" not in plan

def test_spread_small_scan_default_skips_size_estimate(spark, monkeypatch):
    """ADVICE (catalog.py:155): with neither gate set the estimate is
    never used, so its py4j round trips must not be paid."""
    from hogzilla_spark.sources import catalog

    calls = []
    monkeypatch.setattr(
        catalog, "plan_input_bytes", lambda df: calls.append(df) or 1
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    catalog.spread_small_scan(docs)
    assert calls == []
    catalog.spread_small_scan(docs, min_bytes=1)
    assert len(calls) == 1
