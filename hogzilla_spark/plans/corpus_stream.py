"""Streaming corpus ingest: the streaming twin of `plans/corpus.py`.

The batch pipeline assumes a corpus at rest; ingest does not get one —
documents arrive continuously and the keep/flag decisions have to
happen before the duplicate lands in object storage.  This plan wires
the streaming operators into the same shape as batch stages 1/3/4:

  clean stream     raw docs → streaming exact dedup (first-arrival-wins
                   on the batch fingerprint, `streaming/dedup_stream`)
                   → per-batch Gopher/C4 quality signals (a narrow map,
                   `operators/quality.doc_quality_signals_kernel`, joined
                   back inside foreachBatch) → `clean_docs` parquet sink
  candidate stream raw docs → streaming MinHash-LSH band index
                   (`streaming/neardup_stream`) → `neardup_candidates`
                   parquet sink

Two QUERIES, not one: Structured Streaming cannot chain a second
stateful operator (the LSH band state) behind
`dropDuplicatesWithinWatermark` in the same query plan, and the
candidate contract wants the RAW stream anyway — an exact dup arriving
twice must still register in the band index so a later third copy
pairs against the survivor.  Each query owns its checkpoint, so both
restart independently with no replay (asserted by the restart test).

State bounds are the component operators': fingerprint state = rate ×
watermark horizon; band-bucket state = FIFO-capped signatures per
bucket.  The quality stage is stateless (a per-row kernel).  Exactly the
batch/stream split the batch pipeline documents: a periodic
`plans/corpus.py` sweep catches what eviction let through, and the
fingerprints/signatures agree bit-for-bit by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from hogzilla_spark.operators.quality import doc_quality_signals_kernel
from hogzilla_spark.operators.text import LMModel, lm_score, perplexity_col
from hogzilla_spark.streaming.dedup_stream import dedup_stream
from hogzilla_spark.streaming.neardup_stream import minhash_pair_stream

def corpus_ingest_stream(
    docs: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    watermark: str = "10 minutes",
    min_est_jaccard: float = 0.5,
    available_now: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    lm_model: LMModel | None = None,
    lm_ppl_max: float | None = None,
    dsir_log_ratio: DataFrame | None = None,
    dsir_min_logw: int | None = None,
    dsir_buckets: int = 65_536,
) -> tuple[StreamingQuery, StreamingQuery]:
    """Start both ingest queries over a streaming document frame
    (`id_col`, `text_col`, event-time `ts_col`).

    Outputs under `out_dir` (append-only parquet):
      clean_docs.parquet           surviving docs + fp + quality signals
      neardup_candidates.parquet   (id_a, id_b, est_jaccard) candidates

    `available_now=True` drains the currently-available input and stops
    (backfill / test mode); the default runs continuously.  Returns the
    two running queries; the caller owns awaitTermination.

    `lm_model` (a pre-trained `operators/text.lm_train` model — train
    ONCE on a reference corpus at rest; the count tables are static
    checkpointed frames, so per-batch scoring is two stateless joins,
    no streaming state) adds a `ppl` column to every surviving doc;
    `lm_ppl_max` additionally DROPS docs above the threshold, the
    streaming twin of batch stage 3b.  Self-scoring has no streaming
    twin by design — a per-batch self-trained LM would make keep/drop
    depend on batch boundaries.

    `dsir_log_ratio` (a pre-fit `operators/sampling.dsir_log_ratio`
    table — fit ONCE offline against the target corpus; an eagerly
    checkpointed ≤`dsir_buckets`-row frame, broadcast into each batch)
    adds a `logw_micro` importance weight to every surviving doc;
    `dsir_min_logw` additionally DROPS docs below the threshold — the
    streaming twin of batch stage 3c, threshold form instead of top-k
    because a per-batch top-k would make keep/drop depend on batch
    boundaries (the same reasoning as the LM note above).
    `dsir_buckets` must equal the value the table was fit with.
    Streaming docs can hash grams to buckets the offline fit never
    observed; scoring uses `dsir_weights(unseen="smooth")`, which gives
    such grams the fit's add-α default λ₀ (what a zero-count bucket
    would have been assigned) instead of silently ignoring them — so
    every gram-bearing doc gets a finite weight and, when the threshold
    is active, only docs with NO grams at all (null weight) are
    DROPPED, matching the batch stage where weightless docs are never
    selected.
    """
    if lm_ppl_max is not None and lm_model is None:
        raise ValueError("lm_ppl_max requires lm_model (train with lm_train)")
    if dsir_min_logw is not None and dsir_log_ratio is None:
        raise ValueError(
            "dsir_min_logw requires dsir_log_ratio (fit with "
            "sampling.dsir_log_ratio)"
        )

    def sink_clean(batch_df: DataFrame, batch_id: int) -> None:
        # batch_df is a plain batch frame here: the quality signals
        # join back on doc_id with no streaming restrictions.
        # foreachBatch is at-least-once: a crash between this write and
        # the epoch commit re-executes the batch on restart, so the
        # write must be idempotent PER batch_id — each batch overwrites
        # its own partition directory (a plain append would duplicate
        # the batch's rows, exact duplicates in an exact-dedup output).
        sig = doc_quality_signals_kernel(
            batch_df, text_col=text_col, id_col=id_col
        )
        out = batch_df.join(sig, id_col)
        if lm_model is not None:
            lm = lm_score(batch_df, lm_model, id_col=id_col, text_col=text_col)
            out = out.join(
                lm.select(id_col, perplexity_col().alias("ppl")), id_col, "left"
            )
            if lm_ppl_max is not None:
                from pyspark.sql import functions as F

                out = out.filter(
                    F.col("ppl").isNull() | (F.col("ppl") <= lm_ppl_max)
                )
        if dsir_log_ratio is not None:
            from pyspark.sql import functions as F

            from hogzilla_spark.operators.sampling import dsir_weights

            w = dsir_weights(
                batch_df, dsir_log_ratio,
                id_col=id_col, text_col=text_col, n_buckets=dsir_buckets,
                unseen="smooth",
            )
            out = out.join(w, id_col, "left")
            if dsir_min_logw is not None:
                out = out.filter(F.col("logw_micro") >= dsir_min_logw)
        out.write.mode("overwrite").parquet(
            f"{out_dir}/clean_docs.parquet/batch_id={batch_id}"
        )

    clean_w = (
        dedup_stream(docs, watermark=watermark, text_col=text_col, ts_col=ts_col)
        .writeStream.foreachBatch(sink_clean)
        .option("checkpointLocation", f"{ckpt_dir}/clean")
    )
    cand_w = (
        minhash_pair_stream(
            docs,
            min_est_jaccard=min_est_jaccard,
            id_col=id_col,
            text_col=text_col,
        )
        .writeStream.format("parquet")
        .option("path", f"{out_dir}/neardup_candidates.parquet")
        .option("checkpointLocation", f"{ckpt_dir}/cand")
    )
    if available_now:
        clean_w = clean_w.trigger(availableNow=True)
        cand_w = cand_w.trigger(availableNow=True)
    return clean_w.start(), cand_w.start()
