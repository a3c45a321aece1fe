"""End-to-end training-corpus preparation pipeline.

The beyond-reference operators composed the way a real ingest run
chains them — one command from a raw document table to a cleaned,
deduplicated, chunked, shard-packed corpus:

  1. exact dedup        keep the first (min doc_id) per normalized-text
                        fingerprint (`operators/dedup.dedup_exact`)
  2. line dedup         strip corpus-duplicated lines, keep-first
                        (C4; `operators/dedup.dedup_lines`)
  3. quality signals    Gopher/C4 flags (`operators/quality`); rows are
                        FLAGGED by default and dropped only with
                        `drop_low_quality=True` — synthetic or
                        non-English corpora fail the stopword gate
                        wholesale, and silently emptying a corpus is
                        worse than shipping the flag
  3b. LM perplexity     optional CCNet-style filter (`--lm-ppl-max`):
                        self-trained add-k bigram LM scores every doc
                        (`operators/text.lm_cross_entropy`); docs above
                        the perplexity threshold are dropped, the `ppl`
                        column rides on the output
  3c. DSIR selection    optional target-matched data selection
                        (`--dsir-target`, `--dsir-keep-frac`): hashed
                        n-gram importance weights against a target
                        corpus, Gumbel-top-k keeps the best-matching
                        fraction (`operators/sampling.dsir_select`);
                        the `logw_micro` weight rides on the output
  4. near-dup clusters  MinHash-LSH pairs → connected components →
                        keep each cluster's canonical (min-id) member
  5. chunk + shard      overlapping token windows + token-budget shard
                        ids (`chunk_documents`, `pack_token_shards`)

Outputs under `out`:
  clean_docs.parquet    survivors with text_clean, quality flag, shard_id
  chunks.parquet        (doc_id, chunk_id, n_tokens, chunk_text)
and returns (and prints, under the CLI) a per-stage count report.

Scale notes: every stage is one of the independently plan-tested
operators; stages hand off doc-id-keyed tables with a localCheckpoint
per boundary, so the composed lineage never re-derives an earlier
stage (the incremental-LSH checkpoint lesson applied at pipeline
grain), and the run releases them all before it returns.  Counts are
one action per stage boundary — the report is the observability a real
ingest wants anyway.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hogzilla_spark.operators import dedup as DD
from hogzilla_spark.operators.quality import doc_quality_signals_kernel
from hogzilla_spark.operators.sampling import pack_token_shards
from hogzilla_spark.operators.text import chunk_documents
from hogzilla_spark.sources.catalog import spread_small_scan

def prepare_corpus(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    min_jaccard: float = 0.3,
    drop_low_quality: bool = False,
    lm_ppl_max: float | None = None,
    dsir_target: str | None = None,
    dsir_keep_frac: float = 0.5,
    dsir_buckets: int = 65_536,
    chunk_tokens: int = 64,
    stride: int = 48,
    shard_budget: int = 65_536,
    shard_partition_cols: list[str] | None = None,
) -> dict:
    """`shard_partition_cols` keys stage-5 shard packing (each group
    packs its token budget independently — language, source, ...).
    Default: `["lang"]` when the corpus has a `lang` column, else
    global packing.  Requesting a column the corpus lacks fails fast
    HERE, before any stage pays compute, not at stage 5.

    `lm_ppl_max` enables the CCNet-style LM-perplexity stage (3b):
    every surviving doc is scored by the self-trained add-k bigram LM
    (`operators/text.lm_cross_entropy`) and docs whose perplexity
    exceeds the threshold are DROPPED; the `ppl` column rides on the
    output either way once the stage runs.  Docs with <2 tokens carry
    no LM signal (null ppl) and are kept — no evidence is not bad
    evidence.  None (default) skips the stage entirely.

    `dsir_target` (a parquet path whose `text` column defines the
    distribution to match) enables the DSIR stage (3c): importance
    weights are fit against that target over the current survivors and
    Gumbel-top-k keeps `dsir_keep_frac` of them (at least 1).  Selection
    is deterministic (hash-derived noise) — rerun equals re-read.  Docs
    with no tokens carry weight −∞ and are always dropped by this
    stage.  `dsir_buckets` must be small relative to the corpus gram
    count: the add-½-per-bucket smoothing mass is buckets/2 grams, and
    when that rivals the real counts both fitted distributions collapse
    toward uniform and the weights degenerate to a length penalty —
    shrink it for small corpora (the default suits ≥10⁶-gram runs)."""
    raw = spark.read.parquet(f"{src_dir}/documents.parquet")
    # validate BEFORE the eager checkpoint scans the corpus — the
    # schema is free from the parquet footer, the checkpoint is not
    if shard_partition_cols is None:
        shard_partition_cols = ["lang"] if "lang" in raw.columns else []
    missing = [c for c in shard_partition_cols if c not in raw.columns]
    if missing:
        raise ValueError(
            f"shard_partition_cols {missing} not in corpus columns "
            f"{raw.columns}; stage 5 would fail after stages 1-4 ran"
        )
    # Per-stage observability (VERDICT r10 task 3): every stage boundary
    # is already an action (eager localCheckpoint + count), so wall-clock
    # per stage is well-defined — `stages` records rows in/out,
    # selectivity, and seconds alongside the flat count keys the callers
    # and tests already consume.
    stages: list[dict] = []
    _t0 = time.time()
    _mark = [_t0]

    def _stage(name: str, rows_out: int, rows_in: int | None = None) -> None:
        now = time.time()
        rec: dict = {"stage": name, "rows_out": rows_out,
                     "seconds": round(now - _mark[0], 2)}
        if rows_in is not None:
            rec["rows_in"] = rows_in
            rec["selectivity"] = round(rows_out / rows_in, 6) if rows_in else None
        stages.append(rec)
        _mark[0] = now

    # the run returns counts, not frames: when it ends, release every
    # RDD persisted while it ran (its stage cuts and the ones its
    # operators make; the run is the session's only job meanwhile)
    jsc = spark.sparkContext._jsc
    held = set(jsc.getPersistentRDDs().keySet())
    try:
        docs = spread_small_scan(raw).localCheckpoint(eager=True)
        report: dict = {"input_docs": docs.count()}
        _stage("input_scan", report["input_docs"])

        # 1. exact dedup
        docs = DD.dedup_exact(docs).localCheckpoint(eager=True)
        report["after_exact_dedup"] = docs.count()
        _stage("exact_dedup", report["after_exact_dedup"], report["input_docs"])

        # 2. cross-document line dedup (rewrites text)
        lines = DD.dedup_lines(docs)
        docs = (
            docs.drop("text")
            .join(lines, "doc_id")
            .withColumnRenamed("text_clean", "text")
            .localCheckpoint(eager=True)
        )
        report["lines_removed"] = docs.agg(F.sum("n_removed")).collect()[0][0] or 0
        _stage("line_dedup", report["after_exact_dedup"])
        stages[-1]["lines_removed"] = int(report["lines_removed"])

        # 3. quality flags on the cleaned text: rule signals + the two
        # kernel signals (repetition battery tail, compression ratio)
        from hogzilla_spark.operators.quality import (
            compression_ratio,
            dup_ngram_char_fractions,
        )

        # the same Arrow kernel the registry query q_doc_quality runs, so
        # the DuckDB oracle gates this stage's signals too
        sig = doc_quality_signals_kernel(docs).select(
            "doc_id", "n_tok", "gopher_pass"
        )
        rep = dup_ngram_char_fractions(docs).select("doc_id", "repetition_pass")
        comp = compression_ratio(docs).select("doc_id", F.col("ratio").alias("zlib_ratio"))
        docs = (
            docs.join(sig, "doc_id")
            .join(rep, "doc_id")
            .join(comp, "doc_id")
            .localCheckpoint(eager=True)
        )
        report["gopher_pass"], report["repetition_pass"] = docs.agg(
            F.count_if("gopher_pass"), F.count_if("repetition_pass")
        ).first()
        _stage("quality_signals", report["after_exact_dedup"])
        stages[-1]["gopher_pass"] = report["gopher_pass"]
        stages[-1]["repetition_pass"] = report["repetition_pass"]
        if drop_low_quality:
            docs = docs.filter("gopher_pass").localCheckpoint(eager=True)
            report["after_quality_drop"] = docs.count()
            _stage("quality_drop", report["after_quality_drop"],
                   report["after_exact_dedup"])

        # 3b. optional CCNet-style LM-perplexity filter: self-train the
        # add-k bigram LM on the (deduped, line-cleaned) survivors, score
        # every doc, drop the high-perplexity tail.  Runs AFTER the dedup
        # stages so boilerplate mass doesn't dominate the model, BEFORE
        # near-dup clustering so the expensive LSH pass never pays for
        # docs the LM already rejected.
        if lm_ppl_max is not None:
            from hogzilla_spark.operators.text import lm_cross_entropy, perplexity_col

            lm = lm_cross_entropy(docs).select(
                "doc_id", perplexity_col().alias("ppl")
            )
            docs = docs.join(lm, "doc_id", "left").localCheckpoint(eager=True)
            report["lm_scored"] = docs.filter(F.col("ppl").isNotNull()).count()
            rows_in = (
                report["after_quality_drop"] if drop_low_quality
                else report["after_exact_dedup"]
            )
            docs = docs.filter(
                F.col("ppl").isNull() | (F.col("ppl") <= lm_ppl_max)
            ).localCheckpoint(eager=True)
            report["after_lm_filter"] = docs.count()
            _stage("lm_perplexity_filter", report["after_lm_filter"], rows_in)
            stages[-1]["lm_scored"] = report["lm_scored"]

        # 3c. optional DSIR selection: keep the dsir_keep_frac of survivors
        # whose hashed n-gram distribution best matches the target corpus.
        # Runs AFTER the quality/LM gates (select among docs already worth
        # keeping), BEFORE near-dup clustering for the same reason as 3b:
        # the LSH pass never pays for docs the selector already rejected.
        if dsir_target is not None:
            from hogzilla_spark.operators.sampling import dsir_select

            tgt = spark.read.parquet(dsir_target)
            n_now = report[
                "after_lm_filter" if lm_ppl_max is not None
                else "after_quality_drop" if drop_low_quality
                else "after_exact_dedup"
            ]
            k = max(1, int(round(dsir_keep_frac * n_now)))
            sel = dsir_select(docs, tgt, k=k, n_buckets=dsir_buckets).select(
                "doc_id", "logw_micro"
            )
            docs = docs.join(sel, "doc_id").localCheckpoint(eager=True)
            report["after_dsir_select"] = docs.count()
            _stage("dsir_select", report["after_dsir_select"], n_now)

        # 4. near-dup clusters → keep canonical member per component
        pairs = DD.minhash_lsh_pairs(docs, min_jaccard=min_jaccard)
        comp = DD.connected_components(pairs)
        losers = comp.filter("node_id != component_id").select(
            F.col("node_id").alias("doc_id")
        )
        docs = docs.join(losers, "doc_id", "left_anti").localCheckpoint(eager=True)
        report["after_neardup_dedup"] = docs.count()
        _stage(
            "lsh_component_dedup",
            report["after_neardup_dedup"],
            stages[-1]["rows_out"],
        )

        # 5. shard packing at document grain, then chunking
        packed = pack_token_shards(
            docs, token_col="n_tok", budget=shard_budget, order_col="doc_id",
            partition_cols=shard_partition_cols,
        )
        packed.write.mode("overwrite").parquet(f"{out_dir}/clean_docs.parquet")
        _stage("shard_pack_write", report["after_neardup_dedup"])
        chunks = chunk_documents(docs, chunk_tokens=chunk_tokens, stride=stride)
        chunks.write.mode("overwrite").parquet(f"{out_dir}/chunks.parquet")
        report["output_docs"] = report["after_neardup_dedup"]
        report["output_chunks"] = spark.read.parquet(
            f"{out_dir}/chunks.parquet"
        ).count()
        _stage("chunk_write", report["output_chunks"], report["output_docs"])
        report["stages"] = stages
        report["total_seconds"] = round(time.time() - _t0, 2)
        return report
    finally:
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in held:
                rdd.unpersist(False)

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--src", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-jaccard", type=float, default=0.3)
    ap.add_argument("--drop-low-quality", action="store_true")
    ap.add_argument(
        "--lm-ppl-max",
        type=float,
        default=None,
        help="enable the CCNet-style LM-perplexity stage and drop docs "
        "whose self-trained bigram-LM perplexity exceeds this value "
        "(default: stage off)",
    )
    ap.add_argument(
        "--dsir-target",
        default=None,
        help="enable the DSIR selection stage: parquet path whose text "
        "column defines the target distribution to match "
        "(default: stage off)",
    )
    ap.add_argument(
        "--dsir-keep-frac",
        type=float,
        default=0.5,
        help="fraction of surviving docs the DSIR stage keeps",
    )
    ap.add_argument(
        "--dsir-buckets",
        type=int,
        default=65_536,
        help="hashed n-gram feature buckets; shrink for small corpora "
        "(smoothing mass is buckets/2 grams)",
    )
    ap.add_argument("--shard-budget", type=int, default=65_536)
    ap.add_argument(
        "--report-out",
        default=None,
        help="also write the run report (per-stage wall-clock, rows "
        "in/out, selectivity) as JSON to this path, with the run "
        "config attached — the CORPUS_E2E.json recorder",
    )
    ap.add_argument(
        "--shard-partition-cols",
        default=None,
        help="comma-separated group-by keys for shard packing "
        "(default: 'lang' when present, else global)",
    )
    args = ap.parse_args()
    from hogzilla_spark import get_spark

    spark = get_spark(app_name="hogzilla_corpus_prep")
    spark.sparkContext.setLogLevel("ERROR")
    report = prepare_corpus(
        spark, args.src, args.out,
        min_jaccard=args.min_jaccard,
        drop_low_quality=args.drop_low_quality,
        lm_ppl_max=args.lm_ppl_max,
        dsir_target=args.dsir_target,
        dsir_keep_frac=args.dsir_keep_frac,
        dsir_buckets=args.dsir_buckets,
        shard_budget=args.shard_budget,
        shard_partition_cols=(
            args.shard_partition_cols.split(",")
            if args.shard_partition_cols
            else None
        ),
    )
    print(json.dumps(report))
    if args.report_out:
        import os

        doc = {
            "_note": (
                "End-to-end corpus-pipeline record (plans/corpus.py): one "
                "run, per-stage wall-clock + rows in/out + selectivity. "
                "Stage seconds include the eager localCheckpoint that "
                "materializes the stage, so they sum to ~total_seconds. "
                "chunk_write's 'selectivity' is chunks-per-doc expansion."
            ),
            "src": args.src,
            "config": {
                "min_jaccard": args.min_jaccard,
                "drop_low_quality": args.drop_low_quality,
                "lm_ppl_max": args.lm_ppl_max,
                "dsir_target": args.dsir_target,
                "dsir_keep_frac": args.dsir_keep_frac,
                "dsir_buckets": args.dsir_buckets,
                "shard_budget": args.shard_budget,
            },
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "report": report,
        }
        with open(args.report_out, "w") as f:
            json.dump(doc, f, indent=1)
    spark.stop()

if __name__ == "__main__":
    main()
