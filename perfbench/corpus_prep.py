"""corpus_prep: `plans.corpus.prepare_corpus` with the LM stage on.

Closed loop: one pipeline run at a time over the same generated corpus,
repeated until the run time is used up (at least once).  No warm-up
precedes the first run, which is the fresh session's first use of the
pipeline.  Each run is one unit of work; every document in it waits for
the whole run, so per-document latency is the run's wall-clock.  The work is per-row CPU in the Arrow/Python
kernels of `operators.dedup`, `operators.quality`, `operators.text` and
`operators.sampling`; no detector and no state store is involved.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
from benchlib import dir_bytes, median

N_DOCS = 1000
N_PLANTED = 20
# perplexity cap: far above every generated document, so the stage scores
# the whole corpus but must not drop a planted keeper
LM_PPL_MAX = 1e7

STAGES = (
    "input_scan", "exact_dedup", "line_dedup", "quality_signals",
    "lm_perplexity_filter", "lsh_component_dedup", "shard_pack_write",
    "chunk_write",
)


def prepare(ctx) -> dict:
    plan = gen.CorpusPlan(ctx.seed, N_DOCS, N_PLANTED)
    src = os.path.join(ctx.work, "corpus")
    plan.write(src)
    return {"plan": plan, "src": src}


def warm_up(ctx, state: dict) -> None:
    """Nothing: the pipeline is a one-shot batch job (the
    `python -m hogzilla_spark.plans.corpus` CLI starts a fresh JVM per
    corpus), so JIT and codegen warm-up are part of what a user waits
    for and stay inside the timed run."""


def check(plan: gen.CorpusPlan, out: str) -> list[str]:
    """Planted duplicates gone, planted keepers present, each boilerplate
    line kept at most once."""
    t = pq.read_table(os.path.join(out, "clean_docs.parquet"), columns=["doc_id", "text"])
    ids = set(t.column("doc_id").to_pylist())
    errors = []
    gone = [i for i in plan.exact_copies + plan.near_copies if i in ids]
    if gone:
        errors.append(f"planted duplicates survived: {gone[:5]}")
    lost = [i for i in plan.keepers if i not in ids]
    if lost:
        errors.append(f"planted keepers removed: {lost[:5]}")
    for line in gen.BOILERPLATE:
        n = sum(1 for txt in t.column("text").to_pylist()
                if txt and line in txt.split("\n"))
        if n > 1:
            errors.append(f"boilerplate line kept {n} times: {line[:30]}")
    return errors


def measure(ctx, state: dict) -> dict:
    from hogzilla_spark.plans.corpus import prepare_corpus

    plan, src = state["plan"], state["src"]
    out = os.path.join(ctx.work, "out")
    walls, reports = [], []
    t_end = time.time() + ctx.seconds
    runs = 0
    while runs == 0 or time.time() < t_end:
        runs += 1
        ctx.attempted += 1
        with ctx.tracer.span("plans.corpus.prepare_corpus") as sp:
            t0 = time.time()
            try:
                report = prepare_corpus(ctx.spark, src, out, lm_ppl_max=LM_PPL_MAX)
            except Exception as e:  # a failed run counts, the loop goes on
                ctx.fail(f"prepare_corpus: {e!r}")
                continue
            wall = time.time() - t0
        walls.append(wall)
        reports.append(report)
        if sp is not None:
            # the report's per-stage seconds tile the run back to back
            at = sp["start"]
            for st in report["stages"]:
                ctx.tracer.add(f"plans.corpus.{st['stage']}", at, at + st["seconds"], sp["id"])
                at += st["seconds"]
        ctx.attempted += 1
        for err in check(plan, out):
            ctx.fail(err)
    n_docs = reports[0]["input_docs"] if reports else N_DOCS
    # every document of a run completes when the run does
    per_doc = [w for w in walls for _ in range(n_docs)]
    m = {
        "latency_samples": per_doc,
        "items_per_s": n_docs / median(walls),
        "stored_bytes": dir_bytes(out),
        "per_layer": {},
    }
    if ctx.tracer.enabled:
        m["per_layer"] = layer_metrics(ctx, src, reports)
    return m


def layer_metrics(ctx, src: str, reports: list[dict]) -> dict:
    """Stage seconds (median over runs) plus standalone timings of the
    three kernels the stages wrap, each forced to completion."""
    from hogzilla_spark.operators.dedup import minhash_lsh_pairs
    from hogzilla_spark.operators.quality import doc_quality_signals_kernel
    from hogzilla_spark.operators.text import lm_cross_entropy

    out = {}
    for name in STAGES:
        secs = [st["seconds"] for r in reports for st in r["stages"] if st["stage"] == name]
        out[f"plans.corpus.{name}_s"] = median(secs) if secs else 0.0
    out["plans.corpus.output_docs"] = reports[-1]["output_docs"] if reports else 0
    docs = ctx.spark.read.parquet(os.path.join(src, "documents.parquet")).cache()
    docs.count()
    for name, build in (
        ("operators.quality.doc_quality_signals_kernel", lambda: doc_quality_signals_kernel(docs)),
        ("operators.dedup.minhash_lsh_pairs", lambda: minhash_lsh_pairs(docs, min_jaccard=0.3)),
        ("operators.text.lm_cross_entropy", lambda: lm_cross_entropy(docs)),
    ):
        with ctx.tracer.span(name):
            build().write.format("noop").mode("overwrite").save()
        out[f"{name}_s"] = ctx.tracer.total(name)
    docs.unpersist()
    return out
