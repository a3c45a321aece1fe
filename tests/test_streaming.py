"""Structured Streaming tests: the auth path (S17, read-once semantics
replacing the reference's destructive consume) and the streaming dedup
and near-duplicate paths."""

import os

from hogzilla_spark import datagen
from hogzilla_spark.state import store
from hogzilla_spark.streaming.auth_stream import start_auth_stream

def test_auth_stream_available_now(spark, tmp_path):
    input_dir = str(tmp_path / "auth_in")
    state_path = str(tmp_path / "state")
    alerts_dir = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ckpt")

    # seed mature state and drop one batch of records into the source dir
    store.save(datagen.auth_histograms_df(spark), state_path)
    datagen.auth_df(spark).write.mode("append").parquet(input_dir)

    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keySet())
    q = start_auth_stream(
        spark, input_dir, state_path, alerts_dir, ckpt,
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    # the micro-batch releases every frame it cached and sets no
    # checkpoint dir (earlier frames may be cleaned up meanwhile)
    assert not set(jsc.getPersistentRDDs().keySet()) - cached_before
    assert not jsc.sc().getCheckpointDir().isDefined()

    alerts = spark.read.parquet(alerts_dir)
    vars_seen = sorted(r["data"]["atypicalVars"] for r in alerts.collect())
    assert vars_seen == ["C", "S", "U"]

    # state evolved: alice merged (20 + 5 city records), bob learned
    state = store.load(spark, state_path)
    sizes = {r.hist_name: r.size for r in state.collect()}
    assert sizes["HIST20-alice"] == 25
    assert sizes["HIST20-bob"] == 1

    # read-once: draining again processes nothing new
    q2 = start_auth_stream(
        spark, input_dir, state_path, alerts_dir, ckpt,
        trigger={"availableNow": True},
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(alerts_dir).count() == len(vars_seen)

def test_auth_stream_replay_idempotent(spark, tmp_path):
    """At-least-once replay must not double-merge state or double-append
    alerts: simulate a crash AFTER store.save() but BEFORE the streaming
    checkpoint commit by deleting the commit marker, then restart —
    Spark re-delivers batch 0 and the store's batch-id guard skips it."""
    input_dir = str(tmp_path / "auth_in")
    state_path = str(tmp_path / "state")
    alerts_dir = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ckpt")

    store.save(datagen.auth_histograms_df(spark), state_path)
    datagen.auth_df(spark).write.mode("append").parquet(input_dir)

    q = start_auth_stream(
        spark, input_dir, state_path, alerts_dir, ckpt,
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    sizes_before = {
        r.hist_name: r.size for r in store.load(spark, state_path).collect()
    }
    alerts_before = spark.read.parquet(alerts_dir).count()
    assert store.last_applied_batch(state_path) == 0

    # crash window: state committed, checkpoint commit lost. Remove the
    # Hadoop checksum sidecar too — a stale .crc makes the restarted
    # checkpoint manager's renameTempFile throw FileAlreadyExistsException
    # instead of exercising the replay path.
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)

    q2 = start_auth_stream(
        spark, input_dir, state_path, alerts_dir, ckpt,
        trigger={"availableNow": True},
    )
    q2.awaitTermination(120)

    sizes_after = {
        r.hist_name: r.size for r in store.load(spark, state_path).collect()
    }
    assert sizes_after == sizes_before  # histograms NOT double-counted
    assert spark.read.parquet(alerts_dir).count() == alerts_before

def test_streaming_histogram_state_learn_and_score(spark, tmp_path):
    """applyInPandasWithState histogram cycle: below the learn gate
    nothing alerts; once learned, a never-seen bucket alerts exactly
    once; state survives a restart from the checkpoint and replayed
    batches are not re-scored."""
    from hogzilla_spark.streaming.stateful_stream import streaming_histogram_scores

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    alerts = str(tmp_path / "alerts")

    b1 = spark.createDataFrame(
        [("u1", "login:ok")] * 120 + [("u2", "rare")] * 5,
        "entity string, bucket string",
    )
    b1.write.parquet(str(src / "b1"))

    def run_once():
        stream = spark.readStream.schema("entity string, bucket string").parquet(
            str(src / "*")
        )
        out = streaming_histogram_scores(
            stream, learn_gate=100, threshold=0.05
        )

        def sink(df, _bid):
            if df.count() > 0:
                df.write.mode("append").parquet(alerts)

        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    import os

    assert not os.path.isdir(alerts)  # u1 typical, u2 below gate → no alerts

    b2 = spark.createDataFrame(
        [("u1", "login:WEIRD")] + [("u1", "login:ok")] * 10,
        "entity string, bucket string",
    )
    b2.write.parquet(str(src / "b2"))
    run_once()  # restart from checkpoint; only b2 is new

    rows = spark.read.parquet(alerts).collect()
    assert len(rows) == 1
    (a,) = rows
    assert (a.entity, a.bucket) == ("u1", "login:WEIRD")
    assert a.ratio < 0.05
    assert 120 <= a.seen_total <= 130  # state learned across batches/restart

def test_dedup_stream_first_arrival_wins(spark, tmp_path):
    """Streaming exact dedup: a duplicate arriving in a LATER micro-batch
    is dropped; new content passes; the survivor matches the batch
    dedup_exact keep rule (first arrival = earliest file fed in)."""
    import datetime as dt

    from hogzilla_spark.streaming.dedup_stream import dedup_stream

    input_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    schema = "doc_id long, text string, ts timestamp"
    batch1 = spark.createDataFrame(
        [(1, "the quick brown fox", t0),
         (2, "entirely different text", t0)], schema
    )
    batch1.coalesce(1).write.mode("append").parquet(input_dir)

    def drain():
        q = (
            dedup_stream(spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            ).parquet(input_dir))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # batch 2: one exact dup (whitespace-normalized match) + one new doc
    batch2 = spark.createDataFrame(
        [(3, "  THE  quick   brown fox ", t0 + dt.timedelta(minutes=1)),
         (4, "brand new content", t0 + dt.timedelta(minutes=1))], schema
    )
    batch2.coalesce(1).write.mode("append").parquet(input_dir)
    drain()

    rows = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert rows == {1, 2, 4}  # doc 3 is the normalized dup of doc 1

def test_minhash_pair_stream_cross_batch_candidates(spark, tmp_path):
    """Streaming LSH: a near-dup arriving in a LATER micro-batch matches
    the band index held in state; unrelated docs emit nothing, nor do
    docs too short to shingle (NULL, blank, under 3 tokens); replay of
    a seen id is ignored."""
    from hogzilla_spark.streaming.neardup_stream import minhash_pair_stream

    input_dir = str(tmp_path / "nd_in")
    out_dir = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    schema = "doc_id long, text string"

    def drain():
        q = (
            minhash_pair_stream(
                spark.readStream.schema(schema).parquet(input_dir),
                min_est_jaccard=0.5,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, base), (2, "completely unrelated words about databases and joins here"),
         (4, None), (5, ""), (6, "   "), (7, "two words"), (8, "Two  Words")],
        schema,
    ).coalesce(1).write.mode("append").parquet(input_dir)
    drain()
    assert spark.read.schema("id_a long, id_b long, est_jaccard double") \
        .parquet(out_dir).count() == 0

    # batch 2: near-dup of doc 1 (one word changed) + replay of doc 1
    spark.createDataFrame(
        [(3, base.replace("tonight", "today")), (1, base)], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)
    drain()

    pairs = (
        spark.read.parquet(out_dir)
        .dropDuplicates(["id_a", "id_b"])
        .collect()
    )
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 3)]
    assert all(r.est_jaccard >= 0.5 for r in pairs)

    # batch twin agreement: the batch LSH on the union finds the same pair
    from hogzilla_spark.operators.dedup import minhash_lsh_pairs
    allr = spark.createDataFrame(
        [(1, base), (2, "completely unrelated words about databases and joins here"),
         (3, base.replace("tonight", "today"))], schema
    )
    got = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(allr, min_jaccard=0.3).collect()}
    assert got == {(1, 3)}
