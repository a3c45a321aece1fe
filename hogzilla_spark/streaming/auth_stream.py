"""Continuous auth profiling as Structured Streaming (SURVEY.md S17).

The reference polls HBase every 10 s and DELETES each consumed row
(HogzillaContinuous.scala:53-58, HogAuth.scala:307-308) — destructive
at-most-once reads.  The engine replaces that with a streaming source +
checkpoint: exactly-once batch tracking, no destructive reads, same
10-second micro-batch cadence via processingTime trigger.

Each micro-batch (foreachBatch — the Spark-idiomatic shape of the
reference's read-score-merge loop) runs one aggregate for its row
count and distinct-UA estimate, scores its records with the same
`score_auth` as the batch path (one join to the saved rows of the
users it touches, one aggregate for the HIST20-22 updates), writes the
alerts, and commits the updates through one `store.upsert` (load →
one-pass merge → generation swap).  Only the prepared records are
persisted, for the alert write and the merge to share.  The raw batch
and the saved state are read again by each consumer: the file source's
batch is a fixed file list in the offset log, so every read of it sees
the same rows, and a generation's files never change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from hogzilla_spark.config import DEFAULT, EngineConfig
from hogzilla_spark.detectors.auth import prepare_auth, score_auth
from hogzilla_spark.schemas import AUTHRECORDS
from hogzilla_spark.state import store

def start_auth_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    alerts_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT,
    trigger: dict | None = None,
) -> StreamingQuery:
    """File-source streaming: drop auth-record parquet files into
    input_dir; each micro-batch scores against saved state, appends
    alerts, and merges the per-user histograms.

    trigger: e.g. {"processingTime": "10 seconds"} (reference cadence) or
    {"availableNow": True} for drain-and-stop (tests).

    Replay-idempotent: foreachBatch is at-least-once, so a crash
    between the state commit and the checkpoint commit re-delivers the
    batch on restart.  The last-applied batch id travels inside the
    state store's atomic pointer swap (store.upsert(batch_id=...)) and
    replayed batches are skipped; alerts land under a per-batch
    ``batch_id=<n>`` path with overwrite, so a replay that DID lose the
    state commit rewrites the same alert files instead of appending
    duplicates.  One state_path pairs with one checkpoint_dir (batch
    ids are monotonic per checkpoint).

    Per micro-batch, one aggregate returns the row count (an empty
    batch stops there) and the HLL distinct-UA estimate that
    `prepare_auth`'s dictionary-join gate reads, so the gate always
    sees the batch it plans.  `prepare_auth`'s output is persisted: the
    alert write fills the cache and the merge's update aggregate reads
    it, so the UA dictionary join and its CASE tree run once.  SCALE.md
    has the perfbench pairs that kept this persist and dropped those of
    the raw batch and the saved state.
    """
    stream = spark.readStream.schema(AUTHRECORDS).parquet(input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = store.last_applied_batch(state_path)
        if last is not None and batch_id <= last:
            return  # replay of an already-committed batch
        sc = spark.sparkContext
        outer_desc = sc.getLocalProperty("spark.job.description")
        rec = None
        try:
            sc.setJobDescription("auth_stream.score")
            n, n_ua = batch_df.selectExpr(
                "count(1)", "approx_count_distinct(coalesce(userAgent, ''))"
            ).first()
            if n == 0:
                return
            saved = store.load(spark, state_path)
            rec = prepare_auth(batch_df, ua_count_hint=n_ua).persist()
            alerts, updates = score_auth(rec, saved, cfg.auth, cfg.hist, batch_time=batch_id)
            sc.setJobDescription("auth_stream.alerts")
            alerts.write.mode("overwrite").parquet(
                os.path.join(alerts_dir, f"batch_id={batch_id}")
            )
            sc.setJobDescription("auth_stream.upsert")
            store.upsert(spark, updates, state_path, batch_id=batch_id, saved=saved)
        finally:
            sc.setJobDescription(outer_desc)
            if rec is not None:
                rec.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    writer = writer.trigger(**(trigger or {"processingTime": "10 seconds"}))
    return writer.start()
