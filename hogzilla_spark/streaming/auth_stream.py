"""Continuous auth profiling as Structured Streaming (SURVEY.md S17).

The reference polls HBase every 10 s and DELETES each consumed row
(HogzillaContinuous.scala:53-58, HogAuth.scala:307-308) — destructive
at-most-once reads.  The engine replaces that with a streaming source +
checkpoint: exactly-once batch tracking, no destructive reads, same
10-second micro-batch cadence via processingTime trigger.

Each micro-batch (foreachBatch — the Spark-idiomatic shape of the
reference's read-score-merge loop) prepares its records once
(`prepare_auth`, persisted), scores that frame with the same
`score_auth` as the batch path, writes the alerts, and commits the
HIST20-22 updates through one `store.upsert` (load → one-pass merge →
generation swap).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from hogzilla_spark.config import DEFAULT, EngineConfig
from hogzilla_spark.detectors.auth import prepare_auth, score_auth
from hogzilla_spark.schemas import AUTHRECORDS
from hogzilla_spark.state import store

#: micro-batches between UA-cardinality probes (see start_auth_stream)
UA_PROBE_EVERY = 10

def start_auth_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    alerts_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT,
    trigger: dict | None = None,
) -> StreamingQuery:
    """File-source streaming: drop auth-record parquet/json files into
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

    UA-cardinality probe caching: `prepare_auth`'s dictionary-join gate
    needs a distinct-UA estimate; probing every micro-batch is a full
    extra pass over the (persisted) batch.  Login streams' UA mix is
    stable, so the HLL estimate is probed on the first processed batch
    and then every `UA_PROBE_EVERY`-th, carried in between.  Staleness
    is bounded: a UA-fuzzing storm can at worst win `UA_PROBE_EVERY - 1`
    batches of a too-eager broadcast before the next probe flips the
    gate; each batch is persisted, so the micro-batch dictionary stays
    batch-sized either way.
    """
    stream = spark.readStream.schema(AUTHRECORDS).parquet(input_dir)
    probe = {"n_ua": None, "since": 0}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = store.last_applied_batch(state_path)
        if last is not None and batch_id <= last:
            return  # replay of an already-committed batch
        if batch_df.isEmpty():
            return
        sc = spark.sparkContext
        outer_desc = sc.getLocalProperty("spark.job.description")
        # persist the raw batch: the gate probe (when due) and the
        # preparation's dictionary build and fact join all read it, and
        # a re-scan of a non-deterministic source could otherwise
        # observe different data per consumer.  Persist the PREPARED
        # batch too: the alert write and the three histogram updates
        # all read it, so the UA dictionary join and CASE tree run once.
        batch_df = batch_df.persist()
        saved = store.load(spark, state_path).persist()
        rec = None
        try:
            sc.setJobDescription("auth_stream.score")
            if probe["n_ua"] is None or probe["since"] + 1 >= UA_PROBE_EVERY:
                from pyspark.sql import functions as F

                probe["n_ua"] = batch_df.agg(
                    F.approx_count_distinct(F.coalesce("userAgent", F.lit("")))
                ).first()[0]
                probe["since"] = 0
            else:
                probe["since"] += 1
            rec = prepare_auth(batch_df, ua_count_hint=probe["n_ua"]).persist()
            alerts, updates = score_auth(
                rec, saved, cfg.auth, cfg.hist, batch_time=batch_id
            )
            # the alert write is the first reader of `rec`: its jobs
            # fill the cache (an eager count here would add two jobs)
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
            saved.unpersist()
            batch_df.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    writer = writer.trigger(**(trigger or {"processingTime": "10 seconds"}))
    return writer.start()
