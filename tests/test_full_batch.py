"""End-to-end full-batch test: the Hogzilla.main-equivalent DAG with
sFlow + ML modules + histogram clustering in one pass."""

import hashlib
import os

import pyspark.sql.functions as F

from hogzilla_spark import datagen
from hogzilla_spark.operators.dedup import minhash_lsh_pairs
from hogzilla_spark.plans.batch import run_and_persist, run_full_batch
from hogzilla_spark.state import store

def _canon(v):
    """Order-free value: maps become sorted (key, value) items."""
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (tuple, list)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v

def _digest(df) -> tuple[int, str]:
    """(rows, sha256 prefix of the sorted canonical row reprs)."""
    rows = sorted(repr(_canon(r)) for r in df.collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]

# One cycle over the datagen fixtures from an empty store (batch_time=0),
# frozen before the decision-frame cuts were removed.
CYCLE_GOLDENS = {
    "events": (10, "0adeca90a2d3540d"),
    "state": (18, "ad2ae77addf9fdf4"),
    "inventory": (1, "f69ce9460c203b3e"),
    "reputation_learned": (1, "1878455519330231"),
}

def _part_files(path) -> int:
    return sum(f.endswith(".parquet") for f in os.listdir(path))

def test_cycle_row_goldens(spark, tmp_path):
    """`run_and_persist` writes the same events, state, inventory and
    learned reputation as the recorded cycle, and appends each cycle's
    few alerts as one events file.  A second cycle into the
    same out dir (batch_time 21600) learns the BigProvider prefix again
    and does not append it twice.  The cycles release every frame they
    cache, and neither they nor a MinHash pair call leave a checkpoint
    directory behind."""
    out = str(tmp_path)
    state = f"{out}/state/histograms.parquet"
    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keySet())

    def cycle(batch_time):
        run_and_persist(
            spark,
            datagen.sflows_df(spark),
            datagen.mynets_df(spark),
            datagen.reputation_df(spark),
            state_path=state,
            out_dir=out,
            batch_time=batch_time,
        )

    cycle(0)
    got = {
        "events": _digest(spark.read.parquet(f"{out}/events.parquet")),
        "state": _digest(store.load(spark, state)),
        "inventory": _digest(spark.read.parquet(f"{out}/inventory.parquet")),
        "reputation_learned": _digest(
            spark.read.parquet(f"{out}/reputation_learned.parquet")
        ),
    }
    assert got == CYCLE_GOLDENS
    assert _part_files(f"{out}/events.parquet") == 1
    cycle(21600)
    assert _part_files(f"{out}/events.parquet") == 2
    learned = spark.read.parquet(f"{out}/reputation_learned.parquet").collect()
    assert [tuple(r) for r in learned if r.list == "BigProvider"] == [
        ("124.124.124.", "BigProvider", "whitelist")
    ]
    # earlier frames may be cleaned up meanwhile; the cycles add none
    assert not set(jsc.getPersistentRDDs().keySet()) - cached_before
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    assert minhash_lsh_pairs(docs).count() == 1
    assert not jsc.sc().getCheckpointDir().isDefined()

def test_session_hides_console_progress(spark):
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"

def test_full_batch_all_modules(spark):
    hists = datagen.histograms_df(spark)
    result = run_full_batch(
        spark,
        datagen.sflows_df(spark),
        datagen.mynets_df(spark),
        datagen.reputation_df(spark),
        hists,
        flows=datagen.flows_df(spark),
        rf_numeric_cols=["bytes", "packets", "flow_duration"],
        rf_char_cols=["detected_protocol"],
    )
    sig_counts = {
        r.signature_id: r.n
        for r in result.alerts.groupBy("signature_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # stateless + stateful + ML alert families all present
    assert sig_counts[826001012] == 1  # dns tunnel
    assert sig_counts[826001003] == 1  # atypical tcp port (state-scored)
    assert sig_counts[826000001] >= 5  # dns k-means taint + RF (id collision kept)
    # state updates cover every touched family
    fams = {
        r.hist_name.split("-")[0]
        for r in result.state_updates.select("hist_name").collect()
    }
    assert {"HIST01", "HIST02", "HIST03", "HIST04", "HIST05", "HIST06", "HIST07", "HIST08"} <= fams
    assert [tuple(r) for r in result.inventory.collect()] == [("10.1.0.130", "Linux")]

def test_disable_flags_skip_detectors(spark):
    from dataclasses import replace

    from hogzilla_spark.config import DEFAULT, EngineConfig
    from hogzilla_spark.plans.batch import run_sflow_batch

    cfg = EngineConfig(
        sflow=replace(DEFAULT.sflow, disabled=frozenset({"dns_tunnel", "ddos"})),
        auth=DEFAULT.auth, hist=DEFAULT.hist, ml=DEFAULT.ml,
    )
    r = run_sflow_batch(
        spark,
        datagen.sflows_df(spark),
        datagen.mynets_df(spark),
        datagen.reputation_df(spark),
        datagen.histograms_df(spark),
        cfg=cfg,
    )
    assert "dns_tunnel" not in r.per_detector and "ddos" not in r.per_detector
    sigs = {row.signature_id for row in r.alerts.select("signature_id").distinct().collect()}
    assert 826001012 not in sigs and 826001016 not in sigs
    assert 826001013 in sigs  # icmp tunnel still runs
