"""Spans, self time, Spark counters and the percentile rule.

Spans are recorded from the benchmark's own files around each call into
an engine layer (name, start, end, parent, run id), kept in memory and
written as one JSON file when the run ends.  Spark work is attributed to
spans after the fact: one REST fetch of the application's jobs and
stages (traced runs enable the UI for this), each job or stage counted
in every span whose interval contains its submission time.  Nothing is
polled while the workload runs, so the only tracing cost during the
measured region is the Spark UI's own listener.
"""

from __future__ import annotations

import json
import math
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """(p, value) for the highest percentile in TAIL_CANDIDATES that has
    at least ten samples beyond it (nearest-rank).  With fewer than 20
    samples no candidate qualifies and the maximum is returned as p=100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("percentile of no samples")
    for p in TAIL_CANDIDATES:
        rank = math.ceil(round(p / 100.0 * n, 9))  # 0.999 * 10000 is 9990.000000000002
        if n - rank >= 10:
            return p, s[rank - 1]
    return 100.0, s[-1]


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of `interval` covered by the union of `parts`."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span recorder.  When disabled, `span` only yields."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span reconstructed from an engine report (stage
        timings, streaming progress) rather than wrapped live."""
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "parent": parent,
                           "run_id": self.run_id, "start": start, "end": end})
        return sid

    def finish(self) -> None:
        """Fill each span's `self_s`: its duration minus the part of it
        that child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            dur = s["end"] - s["start"]
            s["dur_s"] = dur
            s["self_s"] = dur - covered((s["start"], s["end"]), kids.get(s["id"], []))

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def attach_spark(self, jobs: list[dict], stages: list[dict]) -> None:
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            js = [j for j in jobs if lo <= j["t"] <= hi]
            ss = [st for st in stages if lo <= st["t"] <= hi]
            s["spark"] = {
                "jobs": len(js),
                "stages": len(ss),
                "tasks": sum(st["tasks"] for st in ss),
                "failed_tasks": sum(st["failed_tasks"] for st in ss),
                "shuffle_write_mb": sum(st["shuffle_write"] for st in ss) / 1e6,
                "spill_disk_mb": sum(st["spill_disk"] for st in ss) / 1e6,
            }

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh, indent=1)


def iso_ts(s: str) -> float:
    """Epoch seconds of a Spark timestamp string ('...Z' from streaming
    progress, '...GMT' from the REST API)."""
    s = s.replace("GMT", "+0000").replace("Z", "+0000")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def fetch_spark_activity(spark) -> tuple[list[dict], list[dict]]:
    """Every job and stage attempt of this application, from the UI's
    REST API (the traced session runs with the UI on)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str) -> list[dict]:
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.loads(r.read())

    jobs = [
        {"t": iso_ts(j["submissionTime"]), "id": j["jobId"]}
        for j in get("/jobs")
        if j.get("submissionTime")
    ]
    stages = [
        {
            "t": iso_ts(st["submissionTime"]),
            "tasks": st.get("numTasks", 0),
            "failed_tasks": st.get("numFailedTasks", 0),
            "shuffle_write": st.get("shuffleWriteBytes", 0),
            "spill_disk": st.get("diskBytesSpilled", 0),
        }
        for st in get("/stages")
        if st.get("submissionTime")
    ]
    return jobs, stages
