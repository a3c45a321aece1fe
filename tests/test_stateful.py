"""Stateful detector tests: learn-gate, scoring, and state-merge
semantics against the pre-seeded histograms fixture."""

import hashlib
import os

import pyspark.sql.functions as F
import pytest

from hogzilla_spark import datagen
from hogzilla_spark.config import DEFAULT
from hogzilla_spark.detectors import sflow as D
from hogzilla_spark.detectors import stateful as S
from hogzilla_spark.operators.rollup import sflow_summary
from hogzilla_spark.state import store

CFG = DEFAULT.sflow
HCFG = DEFAULT.hist

@pytest.fixture(scope="module")
def summary(spark):
    s = sflow_summary(datagen.sflows_df(spark), datagen.MY_NETS).persist()
    s.count()
    yield s
    s.unpersist()

@pytest.fixture(scope="module")
def hists(spark):
    return datagen.histograms_df(spark)

@pytest.fixture(scope="module")
def empty_ips(spark):
    return spark.createDataFrame([], "myIP string")

@pytest.fixture(scope="module")
def empty_pairs(spark):
    return spark.createDataFrame([], "myIP string, alienIP string")

def lower_ips(alerts):
    return sorted(r.lower_ip_str for r in alerts.select("lower_ip_str").collect())

def upd_map(updates):
    return {r.hist_name: r for r in updates.collect()}

def test_atypical_tcp_port(spark, summary, hists, empty_ips, empty_pairs):
    alerts, updates, proxies = S.atypical_tcp_port(
        summary, CFG, HCFG, hists, empty_pairs, empty_ips, []
    )
    rows = alerts.collect()
    assert [r.lower_ip_str for r in rows] == ["10.1.0.150"]
    assert rows[0].data["tcpport"] == "12345"
    u = upd_map(updates)
    # mature host learns the new port share; learn-only twin also updates
    assert u["HIST01-10.1.0.150"].values == {"12345": 1.0}
    assert u["HIST01-10.1.0.150"].size == 4  # 4 flows (5-tuples), not packets
    assert "HIST01-10.1.0.151" in u
    assert proxies.count() == 0

def test_atypical_alien_tcp_port(spark, summary, hists, empty_ips, empty_pairs):
    alerts, updates = S.atypical_alien_tcp_port(
        summary, datagen.MY_NETS, CFG, HCFG, hists, empty_pairs, empty_ips, empty_ips
    )
    rows = alerts.collect()
    assert [r.lower_ip_str for r in rows] == ["10.1.0.160"]  # .161: not in prev snapshot
    assert rows[0].data["tcpport"] == "4567"
    u = upd_map(updates)
    # mature path: HIST02 merged with the previous snapshot + new snapshot replace
    assert u["HIST02-10.1.0.160"].mode == "merge"
    assert u["HIST02-10.1.0.160"].values == {"4567": 0.5}
    assert u["HIST02.1-10.1.0.160"].mode == "replace"
    assert u["HIST02.1-10.1.0.160"].values == {"4567": 1.0}

def test_atypical_pairs(spark, summary, hists, empty_ips):
    alerts, updates = S.atypical_pairs(summary, CFG, HCFG, hists, empty_ips)
    rows = alerts.collect()
    assert [r.lower_ip_str for r in rows] == ["10.1.0.170"]
    assert rows[0].data["numberOfPairs"] == "301"
    u = upd_map(updates)
    # bucket floor(ln(301*1000+1)) = 12
    assert u["HIST03-10.1.0.170"].values == {"12": 1.0}
    assert "HIST03-10.1.0.171" in u  # learn-only twin

def test_atypical_data(spark, summary, hists, empty_ips):
    alerts, updates = S.atypical_data(
        summary, datagen.MY_NETS, CFG, HCFG, hists, empty_ips, empty_ips, []
    )
    rows = alerts.collect()
    assert [r.lower_ip_str for r in rows] == ["10.1.0.180"]
    u = upd_map(updates)
    assert u["HIST04-10.1.0.180"].values == {"6": 1.0}  # floor(ln(5e6*1e-4+1))

def test_big_provider_exclusion_in_atypical_data(spark, summary, hists, empty_ips):
    # with 91.91. whitelisted as big provider, the .180 alert disappears
    alerts, _ = S.atypical_data(
        summary, datagen.MY_NETS, CFG, HCFG, hists, empty_ips, empty_ips, ["91.91."]
    )
    assert lower_ips(alerts) == []

def test_horizontal_portscan(spark, summary, hists, empty_ips):
    alerts, updates = S.horizontal_portscan(
        summary, datagen.MY_NETS, CFG, HCFG, hists, empty_ips
    )
    rows = alerts.collect()
    assert [r.lower_ip_str for r in rows] == ["10.1.0.190"]  # 101 > saved 50
    assert rows[0].data["numberOfFlowsPerPort"] == "2323=101"
    u = upd_map(updates)
    assert u["HIST07-10.1.0.190"].mode == "merge_max"
    assert u["HIST07-10.1.0.190"].values == {"2323": 101.0}
    assert "HIST07-10.1.0.191" in u

def test_state_join_not_forced_broadcast(spark, summary, hists, empty_ips, empty_pairs):
    """Saved-state joins must not carry a broadcast() hint: with
    auto-broadcast disabled the state join has to plan as a shuffle
    join, while the (hinted) small-dim anti-joins stay broadcast.  At
    100× entity count the state side outgrows executor broadcast memory,
    so the strategy must be the planner's size-based call."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        alerts, _, _ = S.atypical_tcp_port(
            summary, CFG, HCFG, hists, empty_pairs, empty_ips, []
        )
        plan = alerts._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" in plan  # hinted anti-joins still are
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

def test_horizontal_portscan_update_size_paths(spark, hists, empty_ips):
    """HogSFlow.scala:2475-2477 vs :2533: the immature save adds total
    pairs (numberOfPairsPort); the mature save adds total flows — with 2
    flows per pair the two differ, so the path choice is observable."""
    import dataclasses

    from hogzilla_spark import datagen as DG

    T = 1_000_000
    rows = []
    for ip in ("10.1.0.190", "10.1.0.191"):  # saved 150 (mature) / unsaved
        for i in range(10):
            for rep in range(2):  # 2 distinct flows per (alien, port) pair
                rows.append(
                    DG._pkt(ip, f"4000{rep}", f"94.94.0.{i}", "2323", "6", 60,
                            flags="0x02", ts=T + i * 2 + rep)
                )
    sflows = spark.createDataFrame(
        rows,
        "srcIP string, srcPort string, dstIP string, dstPort string, "
        "IPprotocol string, packetSize long, samplingRate long, "
        "tcpFlags string, timestamp long",
    )
    summary = sflow_summary(sflows, datagen.MY_NETS)
    cfg = dataclasses.replace(CFG, hps_min_flows=5)
    _, updates = S.horizontal_portscan(
        summary, datagen.MY_NETS, cfg, HCFG, hists, empty_ips
    )
    u = upd_map(updates)
    assert u["HIST07-10.1.0.190"].size == 20  # mature: sum(n_flows)
    assert u["HIST07-10.1.0.191"].size == 10  # immature: sum(n_pairs)

def test_vertical_portscan(spark, summary, hists, empty_ips):
    alerts, updates = S.vertical_portscan(summary, CFG, HCFG, hists, empty_ips)
    rows = alerts.collect()
    # .200: saved max bucket 2 < 4 → novel; .201: bucket 6 ≥ 4 → typical
    assert [(r.lower_ip_str, r.upper_ip_str) for r in rows] == [
        ("10.1.0.200", "99.99.99.9")
    ]
    u = upd_map(updates)
    assert u["HIST08-10.1.0.200"].values == {"4": 1.0}

def test_alien_network_profile(spark, summary, hists, empty_ips, empty_pairs):
    updates, big = S.alien_network_profile(
        summary, datagen.MY_NETS, CFG, empty_pairs, empty_ips
    )
    u = upd_map(updates)
    assert u["HIST05-123.123.123."].values == {"8443": 1.0}
    assert u["HIST05-123.123.123."].size == 5
    assert u["HIST06-123.123.123."].values == {"3": 1.0}  # floor(ln(500*1024*1e-4+1))
    assert sorted(r.prefix for r in big.collect()) == ["124.124.124."]

def test_state_store_roundtrip(spark, tmp_path, hists, summary, empty_ips):
    # apply HIST03 updates to the saved state and check merge+decay math
    _, updates = S.atypical_pairs(summary, CFG, HCFG, hists, empty_ips)
    merged = store.apply_updates(hists, updates)
    out = {r.hist_name: r for r in merged.collect()}
    # saved HIST03-10.1.0.170 (size 20, {"5":1}) merged with ({"12":1}, size 1)
    m = out["HIST03-10.1.0.170"]
    assert m.size == 21
    assert m.values["5"] == pytest.approx(20 / 21)
    assert m.values["12"] == pytest.approx(1 / 21)
    # brand-new entity appears
    assert "HIST03-10.1.0.171" in out
    # untouched families survive
    assert out["HIST01-10.1.0.150"].size == 200
    # persistence roundtrip
    path = str(tmp_path / "hist_store")
    store.save(merged, path)
    again = store.load(spark, path)
    assert again.count() == merged.count()

def _canon(v):
    """Order-free value: maps become sorted (key, value) items."""
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (tuple, list)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v

def _digest(rows) -> tuple[int, str]:
    """(rows, sha256 prefix of the sorted canonical row reprs)."""
    lines = sorted(repr(_canon(r)) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]

# One sFlow pass over the datagen fixtures against the pre-seeded
# histograms (batch_time=21600): each stateful detector's alerts, the
# state updates per histogram family, and the self-learned reputation.
STATEFUL_GOLDENS = {
    "atypical_tcp_port": (1, "1960b07c72271f00"),
    "atypical_alien_tcp_port": (1, "dc0d227f3fdf214d"),
    "atypical_pairs": (1, "2a3c463884e354f3"),
    "atypical_data": (1, "1147abeae808817e"),
    "horizontal_portscan": (1, "d47195135a9071f1"),
    "vertical_portscan": (1, "df826ea51cc3aa53"),
    "HIST01": (4, "b9eb85f75a124579"),
    "HIST02": (2, "321a1bb4c5142894"),
    "HIST02.1": (2, "0a82985e1a47a1e3"),
    "HIST03": (2, "490e1ae4c465b174"),
    "HIST04": (2, "9e23bd2ac5502147"),
    "HIST05": (2, "10b387fe52766b7c"),
    "HIST06": (2, "478d3ee5483a1d2f"),
    "HIST07": (2, "1ea0ad5867704434"),
    "HIST08": (2, "bb05e863057ceb45"),
    "new_reputation": (1, "1878455519330231"),
}

# The six stateful registry queries on the sf0.01 testdata.
STATEFUL_REGISTRY_GOLDENS = {
    "hz_atypical_port": (30, "ce800bcf1c6a0805"),
    "hz_atypical_alien": (1768, "b8449e9bb13473b0"),
    "hz_atypical_volume": (316, "c16cb2f25ca845bf"),
    "hz_alien_profile": (109, "ac2646e746d634e8"),
    "hz_portscan": (67, "d673be0b8c985ba1"),
    "hz_vportscan": (361, "f18a8cf18f4bd85b"),
}

def test_stateful_row_goldens(spark, hists):
    """The stateful detectors of one sFlow pass write the recorded
    alerts, state updates and learned reputation."""
    from hogzilla_spark.detectors.base import SIGNATURES
    from hogzilla_spark.plans.batch import run_sflow_batch

    result = run_sflow_batch(
        spark,
        datagen.sflows_df(spark),
        datagen.mynets_df(spark),
        datagen.reputation_df(spark),
        hists,
        batch_time=21600,
    )
    try:
        names = {SIGNATURES[k].sig_id: k for k in STATEFUL_GOLDENS if k in SIGNATURES}
        parts = {}
        stateful = result.alerts.filter(F.col("signature_id").isin(list(names)))
        for r in stateful.collect():
            parts.setdefault(names[r.signature_id], []).append(r)
        for r in result.state_updates.collect():
            parts.setdefault(r.hist_name.split("-", 1)[0], []).append(r)
        parts["new_reputation"] = result.new_reputation.collect()
    finally:
        result.summary.unpersist()
    assert {k: _digest(v) for k, v in parts.items()} == STATEFUL_GOLDENS

def test_stateful_registry_row_goldens(spark):
    import __spark_entry__ as E

    sf = os.path.join(os.path.dirname(E.SF_DEFAULT), "sf0.01")
    got = {
        q: _digest(E.queries()[q](spark, sf).collect())
        for q in STATEFUL_REGISTRY_GOLDENS
    }
    assert got == STATEFUL_REGISTRY_GOLDENS
