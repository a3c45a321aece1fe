"""auth_stream: `streaming.auth_stream.start_auth_stream` under an open loop.

A writer thread, separate from the engine, drops one auth-record parquet
file per second into the stream's input directory (PER_FILE records, a
fixed offered rate) and stamps each record's `generatedTime` with the
time the file was due.  The schedule never waits for the engine; how
late the writer itself ran is reported as `loadgen.late_s_max`.

The stream runs the reference's 10 s processing-time trigger against a
saved store of N_USERS users x HIST20/21/22, on a fresh session: the
measured micro-batch is the stream's first, JIT and codegen included.  Spark fires that trigger
on wall-clock multiples of the interval, so the schedule is aligned to
that grid: the first file is due 0.5 s after a trigger tick, and every
run sees the same phase between arrivals and triggers.

A record's latency runs from when its file was due until the store's
pointer shows the micro-batch that read it committed (state and alerts
are both written by then).  Which batch read which file comes from the
file source's own log in the checkpoint.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import threading
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from benchlib import dir_bytes, iso_ts, median

N_USERS = 20_000
PER_FILE = 200
FILE_EVERY_S = 1.0
TRIGGER_S = 10
DRAIN_TIMEOUT_S = 120.0


def prepare(ctx) -> dict:
    """Generate the schedule's content and seed the saved store."""
    from hogzilla_spark.state import store

    n_files = max(1, math.ceil(ctx.seconds / FILE_EVERY_S))
    plan = gen.AuthPlan(ctx.seed, N_USERS, n_files, PER_FILE)
    seed_file = os.path.join(ctx.work, "seed_state.parquet")
    gen.write_auth_state(seed_file, N_USERS, plan.n_planted)
    state = os.path.join(ctx.work, "state")
    store.save(ctx.spark.read.parquet(seed_file), state)
    return {"plan": plan, "state": state}


def warm_up(ctx, state: dict) -> None:
    """Start the timed query; nothing is run through it first.  The first
    micro-batch pays JIT and codegen: the latency measured is that of the
    first trigger interval after the stream (re)starts.  A warm-up batch
    would cost ~30 s per run, more than the benchmark's run budget allows
    (see README.md)."""
    from hogzilla_spark.streaming.auth_stream import start_auth_stream

    for d in ("in", "staging"):
        os.makedirs(os.path.join(ctx.work, d))
    state["query"] = start_auth_stream(
        ctx.spark, os.path.join(ctx.work, "in"), state["state"],
        os.path.join(ctx.work, "alerts"), os.path.join(ctx.work, "ckpt"),
        trigger={"processingTime": f"{TRIGGER_S} seconds"},
    )


class _Writer(threading.Thread):
    """Open-loop generator: file k becomes visible at due[k] (atomic
    rename from a staging dir), whatever the engine is doing."""

    def __init__(self, plan: gen.AuthPlan, staging: str, in_dir: str, first_due: float):
        super().__init__(daemon=True)
        self.plan, self.staging, self.in_dir = plan, staging, in_dir
        self.due = [first_due + k * FILE_EVERY_S for k in range(plan.n_files)]
        self.late: list[float] = []

    def run(self) -> None:
        for k, due in enumerate(self.due):
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"auth-{k:05d}.parquet"
            pq.write_table(self.plan.table(k, due), os.path.join(self.staging, name))
            os.replace(os.path.join(self.staging, name), os.path.join(self.in_dir, name))
            self.late.append(time.time() - due)


class _CommitWatcher(threading.Thread):
    """Records when the store pointer first shows each batch id."""

    def __init__(self, state: str):
        super().__init__(daemon=True)
        self.state = state
        self.commits: dict[int, float] = {}
        self.stop_flag = threading.Event()

    def run(self) -> None:
        from hogzilla_spark.state import store

        seen = -1
        while not self.stop_flag.is_set():
            b = store.last_applied_batch(self.state)
            now = time.time()
            if b is not None and b > seen:
                for i in range(seen + 1, b + 1):
                    self.commits[i] = now
                seen = b
            time.sleep(0.02)


def _file_batches(ckpt: str) -> dict[str, int]:
    """file name -> batch id, from the file source's metadata log."""
    out = {}
    for log in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(log).startswith("."):
            continue
        with open(log) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def check(plan: gen.AuthPlan, alerts_dir: str) -> list[str]:
    """Every planted far login alerts with the city flag; nothing else
    (planted near misses, typical background logins) alerts."""
    rows = []
    if os.path.isdir(alerts_dir):
        t = ds.dataset(alerts_dir, format="parquet", partitioning="hive").to_table(columns=["data"])
        rows = [dict(d) for d in t.column("data").to_pylist()]
    flagged = {r.get("userName"): r.get("atypicalVars", "") for r in rows}
    errors = []
    missed = [u for u in plan.atypical.values() if "C" not in flagged.get(u, "")]
    if missed:
        errors.append(f"planted atypical logins not alerted: {missed[:5]}")
    wrong = sorted(u for u in flagged if u not in set(plan.atypical.values()))
    if wrong:
        errors.append(f"alerts on typical logins: {wrong[:5]}")
    return errors


def measure(ctx, state: dict) -> dict:
    plan, q = state["plan"], state["query"]
    in_dir = os.path.join(ctx.work, "in")
    staging = os.path.join(ctx.work, "staging")
    alerts = os.path.join(ctx.work, "alerts")
    ckpt = os.path.join(ctx.work, "ckpt")

    watcher = _CommitWatcher(state["state"])
    watcher.start()
    with ctx.tracer.span("streaming.auth_stream") as root:
        # the files fill the end of one trigger interval: the last is due
        # 0.5 s before the tick that reads them all
        span = plan.n_files * FILE_EVERY_S
        tick = math.ceil((time.time() + span + 0.5) / TRIGGER_S) * TRIGGER_S
        writer = _Writer(plan, staging, in_dir, first_due=tick - span + 0.5 * FILE_EVERY_S)
        writer.start()
        writer.join()
        names = [f"auth-{k:05d}.parquet" for k in range(plan.n_files)]
        deadline = time.time() + DRAIN_TIMEOUT_S
        drained = False
        while time.time() < deadline:
            fb = _file_batches(ckpt)
            if all(n in fb and fb[n] in watcher.commits for n in names):
                drained = True
                break
            if q.exception() is not None:
                break
            time.sleep(0.05)
        # the progress event of the last batch is posted just after its
        # commit; give it a moment to land
        last = max(watcher.commits, default=-1)
        t_wait = time.time() + 10
        while time.time() < t_wait and not any(
            p["batchId"] >= last and p["numInputRows"] > 0 for p in q.recentProgress
        ):
            time.sleep(0.05)
        progress = q.recentProgress
        q.stop()
    watcher.stop_flag.set()
    watcher.join()

    ctx.attempted += 1
    if not drained:
        ctx.fail(f"stream did not commit every file within {DRAIN_TIMEOUT_S}s: {q.exception()}")
    fb = _file_batches(ckpt)
    latencies, lags = [], []
    starts = {p["batchId"]: iso_ts(p["timestamp"]) for p in progress}
    t_gave_up = time.time()
    for k, n in enumerate(names):
        b = fb.get(n)
        if b is None or b not in watcher.commits:
            # never committed: counts as waiting until the run gave up
            latencies += [t_gave_up - writer.due[k]] * plan.rows(k)
            continue
        latencies += [watcher.commits[b] - writer.due[k]] * plan.rows(k)
        if b in starts:
            lags += [starts[b] - writer.due[k]] * plan.rows(k)
    batches = [p for p in progress if p["numInputRows"] > 0]
    ctx.attempted += len(batches)
    ctx.attempted += 1
    for err in check(plan, alerts):
        ctx.fail(err)
    committed = sum(plan.rows(k) for k, n in enumerate(names) if fb.get(n) in watcher.commits)
    last_commit = max(watcher.commits.values(), default=t_gave_up)
    m = {
        "latency_samples": latencies,
        "items_per_s": committed / max(last_commit - writer.due[0], 1e-9),
        "stored_bytes": dir_bytes(state["state"]),
        "per_layer": {},
    }
    if ctx.tracer.enabled:
        for p in batches:
            t0 = iso_ts(p["timestamp"])
            ctx.tracer.add("streaming.auth_stream.batch", t0,
                           t0 + p["durationMs"]["triggerExecution"] / 1000, root["id"])
        m["per_layer"] = layer_metrics(ctx, state, plan, batches, lags, writer.late)
    return m


def layer_metrics(ctx, state, plan, batches, lags, late) -> dict:
    """Stream progress figures plus standalone, forced calls of the
    detector and the store against the run's own saved state."""
    from hogzilla_spark.config import DEFAULT
    from hogzilla_spark.detectors.auth import auth_profile
    from hogzilla_spark.state import store

    durs = [p["durationMs"]["triggerExecution"] / 1000 for p in batches] or [0.0]
    out = {
        "streaming.auth_stream.batch_p50_s": median(durs),
        "streaming.auth_stream.batch_max_s": max(durs),
        "streaming.auth_stream.batches": len(batches),
        "streaming.auth_stream.input_lag_s": median(lags) if lags else 0.0,
        "loadgen.late_s_max": max(late) if late else 0.0,
    }
    sp = ctx.spark
    probe_file = os.path.join(ctx.work, "probe_batch.parquet")
    pq.write_table(plan.table(0, 0.0), probe_file)
    with ctx.tracer.span("state.store.load"):
        saved = store.load(sp, state["state"]).cache()
        out["state.store.rows"] = saved.count()
    with ctx.tracer.span("detectors.auth.auth_profile"):
        alerts, updates = auth_profile(sp.read.parquet(probe_file), saved, DEFAULT.auth, DEFAULT.hist)
        alerts.write.format("noop").mode("overwrite").save()
        updates = updates.cache()
        updates.count()
    copy = os.path.join(ctx.work, "state_copy")
    shutil.copytree(state["state"], copy)
    with ctx.tracer.span("state.store.upsert"):
        store.upsert(sp, updates, copy)
    with ctx.tracer.span("state.store.save"):
        store.save(saved, os.path.join(ctx.work, "state_saved"))
    updates.unpersist()
    saved.unpersist()
    for name in ("state.store.load", "detectors.auth.auth_profile",
                 "state.store.upsert", "state.store.save"):
        out[f"{name}_s"] = ctx.tracer.total(name)
    return out
