"""Focused tests for the size-aware scan helpers (`plan_input_bytes`,
the work-aware `spread_small_scan`) and the dedup pair-set
checkpoint."""

from hogzilla_spark.sources.catalog import plan_input_bytes, spread_small_scan

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

def test_dedup_eager_pair_sets_still_materialize(spark):
    """q_dedup_minhash-class wins depend on the pair set materializing
    at EVERY size: the returned frame must not re-run the LSH self-join
    per consumer."""
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
