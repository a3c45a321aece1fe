"""Histogram state store (S3/S7/S10): parquet-backed, batch-merged.

The reference does a per-entity HBase Get before scoring and a Put after
merging (HogHBaseHistogram.scala:75-136) — per-row RPCs inside foreach.
The engine's contract (SURVEY.md §4 custom-work item 1): scoring reads
are an equi-join against the saved state table, and writes are ONE
batched upsert per family per run: :func:`upsert` is load → one
projection over a full-outer join (:func:`apply_updates`) → staged
parquet rewrite (:func:`save`), crash-safe through the atomic
generation pointer.

Layout: each generation is zstd Parquet (the session's codec, set in
``session.get_spark``) with its rows clustered by ``hist_name`` inside
each file, so a family's rows and their repeated map keys sit together
for Parquet's dictionary and run-length encoding.  Parquet records the
codec per file, so generations written earlier as snappy in join order
still load and merge; the next commit writes the new layout.

Update modes:
  - "merge":     weighted mean + decay (Histograms.merge, H5)
  - "merge_max": pointwise max, sizes added (Histograms.mergeMax, H6)
  - "replace":   snapshot overwrite (the HIST02.1 path)
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hogzilla_spark.operators.histogram import (
    merge_histograms,
    merge_labels,
    merge_max,
    merged_size,
)
from hogzilla_spark.schemas import HISTOGRAMS

def EMPTY_MAP_D() -> "F.Column":
    """Typed empty map<string,double> (function: Columns need a live session)."""
    return F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<double>"))

def EMPTY_MAP_S() -> "F.Column":
    return F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))

_CURRENT = "CURRENT"

def _read_pointer(path: str) -> tuple[str | None, int | None]:
    """(generation dir name, last-applied streaming batch id) from the
    CURRENT pointer.  Line 1 is the generation; an optional
    ``batch=<n>`` line records the last streaming micro-batch whose
    updates were committed into that generation (replay-idempotency,
    see streaming/auth_stream.py).  Batch callers write single-line
    pointers, which parse as (gen, None)."""
    marker = os.path.join(path, _CURRENT)
    if not os.path.exists(marker):
        return None, None
    with open(marker, encoding="ascii") as fh:
        lines = [ln.strip() for ln in fh.read().splitlines()]
    gen = lines[0] if lines and lines[0] else None
    batch = None
    for ln in lines[1:]:
        if ln.startswith("batch="):
            batch = int(ln.split("=", 1)[1])
    return gen, batch

def _current_gen(path: str) -> str | None:
    """Name of the active generation dir, or None for a fresh store."""
    return _read_pointer(path)[0]

def last_applied_batch(path: str) -> int | None:
    """Streaming batch id recorded with the current generation, or None.

    foreachBatch under Structured Streaming is at-least-once: a crash
    after ``save()`` but before the checkpoint commit re-delivers the
    same batch on restart.  The store therefore records the batch id
    atomically WITH the generation pointer; the stream skips any batch
    ``<= last_applied_batch`` instead of double-merging histograms.
    One store path pairs with one checkpoint dir (batch ids are
    monotonic per checkpoint)."""
    if not path or not os.path.exists(path):
        return None
    return _read_pointer(path)[1]

def load(spark: SparkSession, path: str | None) -> DataFrame:
    gen = _current_gen(path) if path and os.path.exists(path) else None
    if gen is not None and os.path.exists(os.path.join(path, gen)):
        return spark.read.schema(HISTOGRAMS).parquet(os.path.join(path, gen))
    return spark.createDataFrame([], HISTOGRAMS)

def apply_updates(saved: DataFrame, updates: DataFrame) -> DataFrame:
    """One batched upsert: full-outer join saved ↔ batch updates on
    hist_name, then ONE projection picks each row's output.  updates
    columns: (hist_name, size, values, labels, mode).

    A row with no update keeps its saved histogram; a row with no saved
    size, or a ``replace``, takes the update; otherwise the saved and
    update histograms merge per ``mode``.  One projection, not a union
    of filtered branches: a lazy ``updates`` plan (a whole detector
    batch) is evaluated once, and every joined row comes out exactly
    once."""
    s = saved.select(
        F.col("hist_name"),
        F.col("size").alias("s_size"),
        F.col("values").alias("s_values"),
        F.col("labels").alias("s_labels"),
    )
    u = updates.select(
        F.col("hist_name"),
        F.col("size").alias("u_size"),
        F.col("values").alias("u_values"),
        F.coalesce(F.col("labels"), EMPTY_MAP_S()).alias("u_labels"),
        F.col("mode"),
    )
    j = s.join(u, "hist_name", "full_outer")
    keep = F.col("u_size").isNull()
    take = F.col("s_size").isNull() | (F.col("mode") == "replace")
    is_max = F.col("mode") == "merge_max"
    return j.select(
        "hist_name",
        F.when(keep, F.col("s_size"))
        .when(take, F.col("u_size"))
        .when(is_max, F.col("s_size") + F.col("u_size"))
        .otherwise(merged_size("s_size", "u_size"))
        .alias("size"),
        F.when(keep, F.col("s_values"))
        .when(take, F.col("u_values"))
        .when(is_max, merge_max("s_values", "u_values"))
        .otherwise(merge_histograms("s_values", "s_size", "u_values", "u_size"))
        .alias("values"),
        F.when(keep, F.col("s_labels"))
        .when(take, F.col("u_labels"))
        .otherwise(merge_labels("s_labels", "u_labels"))
        .alias("labels"),
    )

def save(df: DataFrame, path: str, batch_id: int | None = None) -> None:
    """Generation-based commit (parquet has no MERGE):

      1. write the merged state to a fresh ``gen-<id>`` dir under `path`
      2. atomically repoint ``CURRENT`` at it (tmp-file + ``os.replace``)
      3. garbage-collect generations older than the one just replaced

    Crash-safe: a crash before step 2 leaves the old pointer (and its
    files) untouched; ``os.replace`` is atomic on POSIX, so readers see
    either the old or the new generation, never a torn store.  The
    immediately-previous generation survives one more cycle so lazy
    DataFrames built against it keep working after the swap — the bug
    class of plans resolving file lists after an rmtree+rename.

    ``batch_id`` (streaming callers) is committed in the same atomic
    pointer swap, so "state merged" and "batch recorded" can never be
    observed apart — see last_applied_batch().

    Each output partition is sorted by ``hist_name`` before it is
    written (a local sort, no shuffle), so every file holds its rows
    clustered by family.  A merged generation already comes out of
    :func:`apply_updates`'s sort-merge join in that order, and the sort
    costs it nothing measurable; a frame in any other order, such as a
    seeded store, is what it shrinks.
    With the session's zstd codec, a seeded 200k-user HIST20-22
    generation is 320,957 bytes clustered against 468,416 unsorted
    (2,488,184 as snappy), and 35,788 against 52,972 at 20k users.
    Readers do not depend on the order or the codec.
    """
    if not os.path.exists(path):
        os.makedirs(path, exist_ok=True)
    prev = _current_gen(path)
    gen = f"gen-{uuid.uuid4().hex[:8]}"
    df.sortWithinPartitions("hist_name").write.parquet(os.path.join(path, gen))
    tmp = os.path.join(path, f"{_CURRENT}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="ascii") as fh:
        fh.write(gen + "\n")
        if batch_id is not None:
            fh.write(f"batch={batch_id}\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, _CURRENT))
    # GC: drop older generations and crashed-save leftovers; keep the
    # new gen, the pointer, and the generation that was current at entry
    # (still referenced by any unresolved plans from this cycle).
    for name in os.listdir(path):
        if name in (gen, _CURRENT, prev):
            continue
        full = os.path.join(path, name)
        if name.startswith("gen-"):
            shutil.rmtree(full, ignore_errors=True)
        elif name.startswith(f"{_CURRENT}.tmp-"):
            os.unlink(full)

def upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    batch_id: int | None = None,
    saved: DataFrame | None = None,
) -> None:
    """One batched state upsert per run (SURVEY.md §4 item 1): load →
    :func:`apply_updates` → :func:`save`.

    ``batch_id`` (streaming callers) is committed with the generation
    pointer for replay idempotency (see :func:`last_applied_batch`).
    ``saved`` (optional) is a pre-loaded state DataFrame, letting
    callers reuse a persisted load() instead of re-reading.
    """
    if saved is None:
        saved = load(spark, path)
    save(apply_updates(saved, updates), path, batch_id=batch_id)

def mk_update(
    df: DataFrame,
    family: str | Column,
    entity_col: str,
    mode: str | Column = "merge",
) -> DataFrame:
    """Shape a per-entity batch histogram (entity, size, values[, labels])
    into store update rows.  ``family`` and ``mode`` are one value for
    every row, or a Column when one frame updates several families."""
    labels = F.col("labels") if "labels" in df.columns else EMPTY_MAP_S()
    name = (
        F.concat(F.lit(family + "-"), F.col(entity_col))
        if isinstance(family, str)
        else F.concat(family, F.lit("-"), F.col(entity_col))
    )
    return df.select(
        name.alias("hist_name"),
        F.col("size").cast("long").alias("size"),
        F.col("values"),
        labels.alias("labels"),
        (F.lit(mode) if isinstance(mode, str) else mode).alias("mode"),
    )

def saved_family(histograms: DataFrame, family: str, entity: str, prefix: str) -> DataFrame:
    """Saved state of one family keyed by entity: ``entity``,
    ``<prefix>size``, ``<prefix>values`` and, when the state carries
    them, ``<prefix>labels``.  With :func:`name_parts`, the only reader
    of the ``FAMILY-entity`` hist_name that :func:`mk_update` writes.

    Joins against this side carry NO broadcast() hint on purpose: state
    grows with entity count (per-IP and per-user maps), so at 100× scale
    a forced broadcast of a family can exceed executor broadcast memory.
    The state side comes off parquet with size stats, so the planner
    (and AQE at runtime) picks broadcast only while it actually fits
    `autoBroadcastJoinThreshold`; beyond that the equi-join shuffles on
    the entity key, which is the shape we want."""
    cols = ["size", "values"] + (["labels"] if "labels" in histograms.columns else [])
    return histograms.filter(
        # "HIST02-" must not match "HIST02.1-..." names
        F.col("hist_name").startswith(family + "-")
    ).select(
        F.expr(f"substring(hist_name, {len(family) + 2})").alias(entity),
        *[F.col(c).alias(prefix + c) for c in cols],
    )

def name_parts() -> tuple[Column, Column]:
    """(family, entity) Columns of each row's ``hist_name``, for reading
    a frame of several families in one pass; :func:`saved_family` reads
    one family."""
    return (
        F.substring_index("hist_name", "-", 1),
        F.expr("substr(hist_name, instr(hist_name, '-') + 1)"),
    )
