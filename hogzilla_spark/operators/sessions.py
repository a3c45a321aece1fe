"""Sessionization: gap-based session windows over event streams.

Spark-first: the native ``F.session_window`` (Catalyst plans it as a
single shuffle on the session keys + a sort-merge session assembly — no
Python in the loop).

Reference scope: the reference engine's per-entity time-bucketed
correlation (e.g. HogSFlow's per-host window accumulation,
src/org/hogzilla/sflow/HogSFlow.scala:870-930) never needed dynamic
gap sessions, but any clickstream/auth corpus does; this is the
canonical "what did one user do in one sitting" operator for
training-data assembly (conversation/session documents).

Session semantics (matches Spark's session_window exactly, pinned by
tests/test_pipeline_ops.py): an event at time t extends a session whose
last event is at s iff t - s <= gap (sessions merge when their padded
windows touch, end-inclusive); t - s > gap starts a new session.
Start/end reported as the min/max EVENT time of the session (not the
padded window end), so results are gap-parameter-free and
engine-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def sessionize(
    df: DataFrame,
    time_ms_col: str,
    keys: list[str],
    gap_ms: int = 1_800_000,
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Batch sessionization via native session_window.

    ``time_ms_col`` is epoch milliseconds (bigint).  Returns one row per
    (keys..., session): session_start_ms, session_end_ms, n_events, plus
    any ``extra_aggs``.
    """
    tts = F.timestamp_micros((F.col(time_ms_col) * 1000).cast("long"))
    aggs = {
        "session_start_ms": F.min(time_ms_col),
        "session_end_ms": F.max(time_ms_col),
        "n_events": F.count(F.lit(1)),
        **(extra_aggs or {}),
    }
    return (
        df.withColumn("__tts", tts)
        .groupBy(*keys, F.session_window("__tts", f"{gap_ms} milliseconds"))
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
        .drop("session_window")
    )
