"""Generation-based state store: crash-safety and reader-survival.

The reference's HBase store gets durability from the region server; our
parquet store must provide it itself (SURVEY.md §4 custom-work item 1).
Contract under test:
  - save() commits via atomic CURRENT-pointer replace (os.replace)
  - a crash BEFORE the pointer swap leaves the previous state readable
  - DataFrames loaded before a save still resolve after it (the old
    generation survives one cycle)
  - upsert() is load → apply_updates → save
"""

from __future__ import annotations

import os
from unittest import mock

import pytest

from hogzilla_spark.schemas import HISTOGRAMS
from hogzilla_spark.state import store


def _mk_state(spark, names):
    return spark.createDataFrame(
        [(n, 10, {"80": 1.0}, {}) for n in names], HISTOGRAMS
    )


def _gens(path):
    return sorted(n for n in os.listdir(path) if n.startswith("gen-"))


def test_save_load_roundtrip(spark, tmp_path):
    path = str(tmp_path / "st")
    store.save(_mk_state(spark, ["HIST01-a", "HIST01-b"]), path)
    assert store.load(spark, path).count() == 2
    assert len(_gens(path)) == 1
    assert store._current_gen(path) in _gens(path)


def test_load_missing_is_empty(spark, tmp_path):
    assert store.load(spark, str(tmp_path / "nope")).count() == 0


def test_lazy_reader_survives_swap(spark, tmp_path):
    """The round-1 bug: plans built against the old files must still
    resolve after save() commits a new generation."""
    path = str(tmp_path / "st")
    store.save(_mk_state(spark, ["HIST01-a"]), path)
    old = store.load(spark, path)  # lazy — no action yet
    store.save(_mk_state(spark, ["HIST01-a", "HIST01-b"]), path)
    assert old.count() == 1  # reads the kept previous generation
    assert store.load(spark, path).count() == 2


def test_gc_keeps_exactly_two_generations(spark, tmp_path):
    path = str(tmp_path / "st")
    for i in range(4):
        store.save(_mk_state(spark, [f"HIST01-{j}" for j in range(i + 1)]), path)
    assert len(_gens(path)) == 2
    assert store.load(spark, path).count() == 4


def test_crash_before_pointer_swap_preserves_state(spark, tmp_path):
    """Kill the save between the parquet write and the CURRENT replace:
    the store must still serve the previous generation."""
    path = str(tmp_path / "st")
    store.save(_mk_state(spark, ["HIST01-a"]), path)
    before = store._current_gen(path)

    with mock.patch.object(store.os, "replace", side_effect=OSError("crash")):
        with pytest.raises(OSError):
            store.save(_mk_state(spark, ["HIST01-a", "HIST01-b"]), path)

    assert store._current_gen(path) == before
    assert store.load(spark, path).count() == 1
    # recovery: the next save succeeds and cleans the orphan gen + tmp
    store.save(_mk_state(spark, ["HIST01-a", "HIST01-b", "HIST01-c"]), path)
    assert store.load(spark, path).count() == 3
    assert not [n for n in os.listdir(path) if n.startswith("CURRENT.tmp-")]


def _mk_updates(spark, rows):
    """(hist_name, size, values, labels, mode) update rows."""
    from pyspark.sql.types import (
        LongType, MapType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("hist_name", StringType()),
            StructField("size", LongType()),
            StructField("values", MapType(StringType(), StringType())),
            StructField("labels", MapType(StringType(), StringType())),
            StructField("mode", StringType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    from pyspark.sql import functions as F

    return df.withColumn(
        "values", F.col("values").cast("map<string,double>")
    )


def test_upsert_falls_back_to_parquet_store(spark, tmp_path):
    """upsert() == load + apply_updates + save, row for row."""
    path_a = str(tmp_path / "via_upsert")
    path_b = str(tmp_path / "via_explicit")
    first = _mk_updates(
        spark, [("HIST01-a", 10, {"80": "1.0"}, {}, "merge")]
    )
    second = _mk_updates(
        spark,
        [
            ("HIST01-a", 6, {"80": "0.5", "443": "0.5"}, {}, "merge"),
            ("HIST07-b", 3, {"22": "2.0"}, {}, "merge_max"),
        ],
    )
    for upd in (first, second):
        store.upsert(spark, upd, path_a)
        store.save(store.apply_updates(store.load(spark, path_b), upd), path_b)
    a = {r["hist_name"]: r for r in store.load(spark, path_a).collect()}
    b = {r["hist_name"]: r for r in store.load(spark, path_b).collect()}
    assert set(a) == set(b) == {"HIST01-a", "HIST07-b"}
    for k in a:
        assert a[k]["size"] == b[k]["size"]
        assert a[k]["values"] == b[k]["values"]


def test_run_and_persist_goes_through_upsert(spark, tmp_path):
    """ADVICE r9 (batch.py:221): the batch path must use store.upsert,
    the store's single write entry point."""
    import inspect

    from hogzilla_spark.plans import batch

    src = inspect.getsource(batch.run_and_persist)
    assert "store.upsert(" in src
    assert "merge_into" not in src
