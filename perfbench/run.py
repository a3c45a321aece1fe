"""Benchmark entry point.

    python3 perfbench/run.py --workload auth_stream --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout: the engine is imported from the
checkout's `hogzilla_spark/`, never from an installed copy, and every
file the run writes stays under `.perfbench_work/` in the checkout
(Spark's local dirs and the JVM's temp dir included).  The last line of
standard output is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`).  A traced run also writes its spans to
`.perfbench_work/trace-<workload>-seed<seed>.json`.  Progress and
errors go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import auth_stream  # noqa: E402
import benchlib  # noqa: E402
import corpus_prep  # noqa: E402

WORKLOADS = {"auth_stream": auth_stream, "corpus_prep": corpus_prep}
CORES = 2
SETUP_REPEATS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Context:
    """What a workload module needs: session, scratch dir, seed, run
    length, the tracer, and the attempted/failed tally."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer: benchlib.Tracer):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    def fail(self, msg: str) -> None:
        self.failed += 1
        log(f"FAILED: {msg}")


def _session(app: str, scratch: str, traced: bool):
    from hogzilla_spark import get_spark

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and the Python workers inherit these: no file outside the
    # checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may already have cached /tmp
    # every JVM spark-submit starts (its launcher included)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    cores = min(CORES, os.cpu_count() or 1)
    spark = get_spark(app_name=app, master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over the driver, the JVM and its live children
    (the PySpark worker daemon and workers)."""
    tree = set(pids)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            if ppid in tree:
                tree.add(int(d))
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for ln in fh:
                    if ln.startswith("VmHWM:"):
                        total_kb += int(ln.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and so its workers) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="hogzilla_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")
    if not os.path.isfile(os.path.join(ROOT, "hogzilla_spark", "__init__.py")):
        log(f"no hogzilla_spark/ source tree next to {HERE}; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)

    base = os.path.join(ROOT, ".perfbench_work")
    scratch = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    spark = None
    try:
        t0 = time.time()
        spark = _session(f"perfbench-{args.workload}", scratch, traced)
        t_session = time.time() - t0
        tracer = benchlib.Tracer(f"{args.workload}-seed{args.seed}", traced)
        ctx = Context(spark, scratch, args.seed, args.seconds, tracer)
        # input generation and state seeding are repeated into fresh dirs
        # and the median kept; session start and warm-up happen once
        preps, state = [], None
        for i in range(SETUP_REPEATS):
            ctx.work = os.path.join(scratch, f"work{i}")
            os.makedirs(ctx.work)
            t1 = time.time()
            state = wl.prepare(ctx)
            preps.append(time.time() - t1)
        t1 = time.time()
        wl.warm_up(ctx, state)
        t_warm = time.time() - t1
        setup_s = t_session + benchlib.median(preps) + t_warm
        log(f"setup {setup_s:.2f}s (session {t_session:.2f}s, inputs "
            f"{', '.join(f'{p:.2f}' for p in preps)}s, warm-up {t_warm:.2f}s)")

        t1 = time.time()
        m = wl.measure(ctx, state)
        log(f"measured for {time.time() - t1:.2f}s")
        rss = _peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
        p, tail = benchlib.tail_percentile(m["latency_samples"])
        p50 = benchlib.median(m["latency_samples"])
        log(f"latency p50 {p50:.3f}s, tail p{p:g} {tail:.3f}s of {len(m['latency_samples'])} samples")
        if traced:
            tracer.finish()
            jobs, stages = benchlib.fetch_spark_activity(spark)
            tracer.attach_spark(jobs, stages)
            metrics = _layer_metrics(tracer, m["per_layer"])
            path = os.path.join(base, f"trace-{args.workload}-seed{args.seed}.json")
            # end-to-end figures of the traced run, for the tracing overhead
            # against an untraced run of the same seed
            tracer.write(path, {"workload": args.workload, "seed": args.seed,
                                "setup_s": setup_s, "latency_p50_s": p50,
                                "metrics": metrics})
            log(f"spans written to {path}")
        else:
            values = {
                "setup_s": setup_s,
                "latency_p50_s": p50,
                "latency_p99_s": tail,
                "items_per_s": m["items_per_s"],
                "stored_bytes": m["stored_bytes"],
                "peak_rss_mb": rss,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        result = {
            "correct": ctx.failed == 0,
            "attempted": max(1, ctx.attempted),
            "failed": ctx.failed,
            "metrics": metrics,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            t1 = time.time()
            _stop(spark)
            log(f"stopped in {time.time() - t1:.2f}s")
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _layer_metrics(tracer: benchlib.Tracer, per_layer: dict) -> dict:
    """Per-layer metrics: every name in LAYER_UNITS, 0 for a layer the
    workload does not call."""
    roots = [s for s in tracer.spans if s["parent"] is None and s["name"] in MEASURED_ROOTS]
    values = dict.fromkeys(LAYER_UNITS, 0.0)
    for key in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_mb", "spill_disk_mb"):
        values[f"spark.{key}"] = sum(s["spark"][key] for s in roots)
    values["trace.root_self_s"] = sum(s["self_s"] for s in roots)
    values.update(per_layer)
    return {k: {"value": values[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}


END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "items_per_s": "1/s",
    "stored_bytes": "bytes",
    "peak_rss_mb": "MB",
}

MEASURED_ROOTS = ("streaming.auth_stream", "plans.corpus.prepare_corpus")

LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_disk_mb": "MB",
    "trace.root_self_s": "s",
    "streaming.auth_stream.batch_p50_s": "s",
    "streaming.auth_stream.batch_max_s": "s",
    "streaming.auth_stream.batches": "count",
    "streaming.auth_stream.input_lag_s": "s",
    "loadgen.late_s_max": "s",
    "detectors.auth.auth_profile_s": "s",
    "state.store.load_s": "s",
    "state.store.upsert_s": "s",
    "state.store.save_s": "s",
    "state.store.rows": "count",
    **{f"plans.corpus.{st}_s": "s" for st in corpus_prep.STAGES},
    "plans.corpus.output_docs": "count",
    "operators.quality.doc_quality_signals_kernel_s": "s",
    "operators.dedup.minhash_lsh_pairs_s": "s",
    "operators.text.lm_cross_entropy_s": "s",
}


if __name__ == "__main__":
    sys.exit(main())
