"""Generation-based state store: crash-safety and reader-survival.

The reference's HBase store gets durability from the region server; our
parquet store must provide it itself (SURVEY.md §4 custom-work item 1).
Contract under test:
  - save() commits via atomic CURRENT-pointer replace (os.replace)
  - a crash BEFORE the pointer swap leaves the previous state readable
  - DataFrames loaded before a save still resolve after it (the old
    generation survives one cycle)
  - upsert() is load → apply_updates → save
  - a generation is zstd Parquet clustered by hist_name in each file,
    and a generation written as snappy in join order still loads and
    merges
  - apply_updates() is one projection over one full-outer join: each
    row merges per its mode, and the updates plan is evaluated once
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


def _layout(gen_dir):
    """(codecs of every column chunk, hist_name column of each file) of
    one generation, read from the Parquet files themselves."""
    import pyarrow.parquet as pq

    codecs, names = set(), []
    for f in sorted(os.listdir(gen_dir)):
        if not f.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(gen_dir, f))
        md = pf.metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            codecs |= {rg.column(j).compression for j in range(rg.num_columns)}
        names.append(pf.read(columns=["hist_name"]).column(0).to_pylist())
    return codecs, names


def _current_layout(path):
    return _layout(os.path.join(path, store._current_gen(path)))


def test_save_load_roundtrip(spark, tmp_path):
    """The generation is zstd and each file's rows are clustered by
    hist_name, whatever order the saved frame had."""
    path = str(tmp_path / "st")
    names = ["HIST22-u3", "HIST20-u1", "HIST21-u2", "HIST20-u0", "HIST01-b", "HIST01-a"]
    store.save(_mk_state(spark, names).coalesce(1), path)
    assert store.load(spark, path).count() == 6
    assert len(_gens(path)) == 1
    assert store._current_gen(path) in _gens(path)
    codecs, files = _current_layout(path)
    assert codecs == {"ZSTD"}
    assert [n for f in files for n in f] == sorted(names)


def test_load_missing_is_empty(spark, tmp_path):
    assert store.load(spark, str(tmp_path / "nope")).count() == 0


def test_saved_reads_one_family(spark):
    """The entity is everything after "FAMILY-" (so '-' inside it
    survives), and "HIST02" does not match "HIST02.1-" names."""
    state = _mk_state(spark, ["HIST02-10.1.2.3", "HIST02-ali-ce", "HIST02.1-10.1.2.3"])
    got = store.saved_family(state, "HIST02", "e", "s_")
    assert got.columns == ["e", "s_size", "s_values", "s_labels"]
    assert sorted(r.e for r in got.collect()) == ["10.1.2.3", "ali-ce"]
    assert [r.e for r in store.saved_family(state, "HIST02.1", "e", "p_").collect()] == ["10.1.2.3"]


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


def _rows(df):
    """(hist_name, size, values, labels) tuples sorted by hist_name, maps
    as sorted dicts."""
    def srt(m):
        return None if m is None else dict(sorted(m.items()))

    return sorted(
        ((r["hist_name"], r["size"], srt(r["values"]), srt(r["labels"]))
         for r in df.collect()),
        key=lambda t: t[0],
    )


# One input per path through apply_updates: merge (with and without the
# decay past 1,000), merge_max, replace, label precedence, a saved-only
# row, and new-only rows of each mode (NULL labels become empty maps).
_MIXED_SAVED = [
    ("HIST01-a", 10, {"80": 1.0}, {}),
    ("HIST01-decay", 2000, {"80": 0.5, "22": 0.5}, {}),
    ("HIST07-m", 4, {"22": 2.0, "80": 1.0}, {}),
    ("HIST02-r", 7, {"x": 1.0}, {"x": "lx"}),
    ("HIST20-l", 5, {"c1": 1.0}, {"c1": "city1"}),
    ("HIST01-kept", 3, {"53": 1.0}, {"53": "dns"}),
]
_MIXED_UPDATES = [
    ("HIST01-a", 6, {"80": "0.5", "443": "0.5"}, {}, "merge"),
    ("HIST01-decay", 10, {"22": "1.0"}, None, "merge"),
    ("HIST07-m", 3, {"22": "1.0", "25": "4.0"}, {}, "merge_max"),
    ("HIST02-r", 2, {"y": "1.0"}, {"y": "ly"}, "replace"),
    ("HIST20-l", 2, {"c1": "0.5", "c2": "0.5"}, {"c1": "other", "c2": "city2"}, "merge"),
    ("HIST01-new", 4, {"80": "1.0"}, None, "merge"),
    ("HIST07-new", 1, {"22": "3.0"}, {"22": "ssh"}, "merge_max"),
    ("HIST02-new", 1, {"z": "1.0"}, None, "replace"),
]
# Recorded from the filter-and-union merge that preceded the single
# projection; the projection must reproduce it row for row.
_MIXED_GOLDEN = [
    ("HIST01-a", 16, {"443": 0.1875, "80": 0.8125}, {}),
    ("HIST01-decay", 1010, {"22": 0.504950495049505, "80": 0.49504950495049505}, {}),
    ("HIST01-kept", 3, {"53": 1.0}, {"53": "dns"}),
    ("HIST01-new", 4, {"80": 1.0}, {}),
    ("HIST02-new", 1, {"z": 1.0}, {}),
    ("HIST02-r", 2, {"y": 1.0}, {"y": "ly"}),
    ("HIST07-m", 7, {"22": 2.0, "25": 4.0, "80": 1.0}, {}),
    ("HIST07-new", 1, {"22": 3.0}, {"22": "ssh"}),
    ("HIST20-l", 7, {"c1": 0.8571428571428571, "c2": 0.14285714285714285},
     {"c1": "city1", "c2": "city2"}),
]


def test_apply_updates_mixed_modes_golden(spark):
    saved = spark.createDataFrame(_MIXED_SAVED, HISTOGRAMS)
    merged = store.apply_updates(saved, _mk_updates(spark, _MIXED_UPDATES))
    assert _rows(merged) == _MIXED_GOLDEN


def test_snappy_unsorted_generation_loads_and_upserts(spark, tmp_path):
    """A store whose current generation was written as snappy in join
    order (the layout before zstd and clustering) loads and merges to
    the same rows, and the generation its upsert commits is zstd and
    clustered by hist_name."""
    path = str(tmp_path / "st")
    old = os.path.join(path, "gen-snappy0")
    rows = _MIXED_SAVED[::-1]
    spark.createDataFrame(rows, HISTOGRAMS).coalesce(1).write.option(
        "compression", "snappy"
    ).parquet(old)
    with open(os.path.join(path, "CURRENT"), "w", encoding="ascii") as fh:
        fh.write("gen-snappy0\n")
    codecs, files = _current_layout(path)
    assert codecs == {"SNAPPY"}
    assert files == [[r[0] for r in rows]]
    assert _rows(store.load(spark, path)) == sorted(_MIXED_SAVED, key=lambda t: t[0])

    store.upsert(spark, _mk_updates(spark, _MIXED_UPDATES), path)
    assert _rows(store.load(spark, path)) == _MIXED_GOLDEN
    codecs, files = _current_layout(path)
    assert codecs == {"ZSTD"}
    assert all(f == sorted(f) for f in files)


def test_apply_updates_null_size_saved_row_emitted_once(spark):
    """A saved row whose size is NULL and that no update touches comes out
    once, with its saved values (a filter-per-branch merge matched it in
    both its saved-only and its new-only branch)."""
    saved = spark.createDataFrame(
        [("HIST01-a", None, {"80": 1.0}, {}), ("HIST01-b", 10, {"80": 1.0}, {})],
        HISTOGRAMS,
    )
    upd = _mk_updates(spark, [("HIST01-b", 2, {"80": "1.0"}, {}, "merge")])
    got = _rows(store.apply_updates(saved, upd))
    assert [r[0] for r in got] == ["HIST01-a", "HIST01-b"]
    assert got[0] == ("HIST01-a", None, {"80": 1.0}, {})


def test_apply_updates_reads_updates_plan_once(spark):
    """The updates plan appears as one leaf of the merge plan: a lazy
    (unpersisted) batch is evaluated once per upsert, not once per
    merge branch."""
    from pyspark.sql import functions as F

    saved = spark.createDataFrame(_MIXED_SAVED, HISTOGRAMS)
    updates = spark.range(5).select(
        F.concat(F.lit("HIST01-"), F.col("id").cast("string")).alias("hist_name"),
        F.col("id").alias("size"),
        F.create_map(F.lit("80"), F.lit(1.0)).alias("values"),
        F.create_map(F.lit("80"), F.lit("http")).alias("labels"),
        F.lit("merge").alias("mode"),
    )
    plan = store.apply_updates(saved, updates)._jdf.queryExecution().optimizedPlan()
    assert plan.toString().count("Range (") == 1


def test_upsert_equals_load_apply_save(spark, tmp_path):
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
