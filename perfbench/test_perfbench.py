"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke test starts one local Spark session and runs each workload at
a tiny size in-process (about two minutes on 4 cores); the rest are
pure Python.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import auth_stream  # noqa: E402
import benchlib  # noqa: E402
import corpus_prep  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def _write_all(out: str, seed: int) -> None:
    os.makedirs(out)
    plan = gen.AuthPlan(seed, 500, 6, 30)
    import pyarrow.parquet as pq

    for k in range(plan.n_files):
        pq.write_table(plan.table(k, 123.0), os.path.join(out, f"auth{k}.parquet"))
    gen.write_auth_state(os.path.join(out, "state.parquet"), 500, plan.n_planted)
    gen.CorpusPlan(seed, 300, 5).write(os.path.join(out, "corpus"))


def test_generators_deterministic_by_seed(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    _write_all(str(tmp_path / "c"), 8)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_planted_entities_disjoint_from_background():
    plan = gen.AuthPlan(3, 1000, 8, 50)
    background = {f"u{u}" for u in plan._users.ravel()}
    planted = set(plan.atypical.values()) | set(plan.near_miss.values())
    assert planted and not planted & background
    corpus = gen.CorpusPlan(3, 400, 6)
    copies = corpus.exact_copies + corpus.near_copies
    assert min(copies) > max(corpus.keepers)
    for src, cp in zip(corpus.exact_sources, corpus.exact_copies):
        assert corpus.texts[src] == corpus.texts[cp]
    for src, cp in zip(corpus.near_sources, corpus.near_copies):
        a, b = corpus.texts[src].split(), corpus.texts[cp].split()
        assert a != b
        assert {tuple(a[i:i + 3]) for i in range(len(a) - 2)} == {
            tuple(b[i:i + 3]) for i in range(len(b) - 2)
        }


@pytest.mark.parametrize(
    "n, p",
    [(10000, 99.9), (5000, 99.0), (1000, 99.0), (999, 95.0), (200, 95.0), (100, 90.0),
     (20, 50.0), (19, 100.0), (1, 100.0)],
)
def test_tail_percentile_rule(n, p):
    xs = [float(i) for i in range(1, n + 1)]
    got_p, value = benchlib.tail_percentile(xs)
    assert got_p == p
    # at least ten samples lie strictly beyond the reported value
    if p < 100:
        assert sum(1 for x in xs if x > value) >= 10
    else:
        assert value == max(xs)


def test_median():
    assert benchlib.median([3.0, 1.0, 2.0]) == 2.0
    assert benchlib.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_self_time_arithmetic():
    t = benchlib.Tracer("t", enabled=True)
    root = t.add("root", 0.0, 10.0, None)
    t.add("a", 1.0, 3.0, root)
    b = t.add("b", 2.0, 5.0, root)      # overlaps a: union 1..5
    t.add("c", 7.0, 8.0, root)
    t.add("b.child", 2.5, 4.0, b)
    t.add("stray", 9.5, 12.0, root)     # clipped to the parent: 9.5..10
    t.finish()
    by = {s["name"]: s for s in t.spans}
    assert by["root"]["self_s"] == pytest.approx(10 - 4 - 1 - 0.5)
    assert by["b"]["self_s"] == pytest.approx(3 - 1.5)
    assert by["a"]["self_s"] == pytest.approx(2.0)


def test_disabled_tracer_records_nothing():
    t = benchlib.Tracer("t", enabled=False)
    with t.span("x") as sp:
        assert sp is None
    assert t.add("y", 0, 1, None) == -1
    assert t.spans == []


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOADS)


def test_refuses_to_run_without_engine_source(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_prep",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    sys.path.insert(0, ROOT)
    scratch = str(tmp_path_factory.mktemp("spark"))
    s = run._session("perfbench-selftest", scratch, traced=True)
    yield s
    run._stop(s)


def _smoke(spark, tmp, wl):
    ctx = run.Context(spark, str(tmp), 5, 2, benchlib.Tracer("smoke", True))
    state = wl.prepare(ctx)
    wl.warm_up(ctx, state)
    m = wl.measure(ctx, state)
    ctx.tracer.finish()
    return ctx, m


def test_smoke_corpus_prep(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(corpus_prep, "N_DOCS", 120)
    monkeypatch.setattr(corpus_prep, "N_PLANTED", 3)
    ctx, m = _smoke(spark, tmp_path, corpus_prep)
    assert ctx.failed == 0 and ctx.attempted >= 2
    assert len(m["latency_samples"]) >= 120 and m["items_per_s"] > 0
    assert set(m["per_layer"]) >= {f"plans.corpus.{s}_s" for s in corpus_prep.STAGES}
    # the stage spans tile the pipeline run
    root = next(s for s in ctx.tracer.spans if s["name"] == "plans.corpus.prepare_corpus")
    assert root["self_s"] < 0.25 * root["dur_s"]


def test_smoke_auth_stream(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(auth_stream, "N_USERS", 300)
    monkeypatch.setattr(auth_stream, "PER_FILE", 20)
    ctx, m = _smoke(spark, tmp_path, auth_stream)
    assert ctx.failed == 0, "output checks failed"
    assert len(m["latency_samples"]) >= 40 and min(m["latency_samples"]) > 0
    assert m["per_layer"]["streaming.auth_stream.batches"] >= 1
    assert m["per_layer"]["state.store.rows"] >= 900
