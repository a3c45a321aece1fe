"""Golden detector tests over the deterministic datagen fixtures:
planted true positive + near miss per detector (SURVEY.md §5 item 2),
row digests of every stateless signature frozen from the per-detector
functions the rule table replaced, and the shared-aggregate plan shape."""

import hashlib
import os
from dataclasses import replace

import pyspark.sql.functions as F
import pytest

from hogzilla_spark import datagen
from hogzilla_spark.config import DEFAULT
from hogzilla_spark.detectors import sflow as D
from hogzilla_spark.operators.rollup import icmp_summary, sflow_summary

CFG = DEFAULT.sflow
HIST = "hist_name string, size long, values map<string,double>, labels map<string,string>"

def digest(rows) -> str:
    """Order-free sha256 prefix of alert rows."""
    lines = sorted(
        repr((r.signature_id, r.time, r.lower_ip.hex(), r.upper_ip.hex(),
              r.lower_ip_str, r.upper_ip_str, r.title,
              sorted(r.data.items()), r.note))
        for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]

EMPTY = digest([])
# Frozen from the eleven per-signature functions before the rule table
# (same fixtures, same digest); each case lists what differs from
# "defaults".
BASE = {
    "smtp_talkers": "e871fe49e438c983", "p2p": "e6261887ab9e691b",
    "media_client": "54f7990afa02ad54", "dns_tunnel": "6006078c504a8730",
    "icmp_tunnel": "4b77d4feac8bea19", "udp_amplifier": "6ab190ffca0d8a96",
    "abused_smtp": "a4c550889209d3d7", "alien_many_hosts": "f832219be5803c22",
    "cc_botnet": "25d57f7f810640f0", "ddos": "34fbf274835b2395",
    "top_talkers": EMPTY,
}
GOLDENS = {
    "defaults": BASE,
    "smtp_guard": {**BASE, "smtp_talkers": EMPTY},
    "ftp_server": {**BASE, "p2p": EMPTY},
    "p2p_overlap": {**BASE, "p2p": "d784f1d383db3124", "media_client": EMPTY, "ddos": EMPTY},
    "cc_203": BASE,
    "excluded": {
        **BASE, "p2p": EMPTY, "dns_tunnel": EMPTY, "alien_many_hosts": EMPTY, "ddos": EMPTY,
    },
}
REGISTRY_GOLDENS = {  # hz_* query outputs on the sf0.01 testdata
    "hz_stateless_suite": "72c436a519b79812",
    "hz_p2p": "140c836ea0d1c251",
    "hz_dns_tunnel": "3d56e45722230b55",
    "hz_top_talkers": "b2024231e5ac43c2",
}

def _case_inputs(spark, name):
    """(sflows, histograms, blacklist, cfg) for one fixture case."""
    sflows = datagen.sflows_df(spark)
    hists = datagen.histograms_df(spark)
    bl = spark.createDataFrame([("203.0.113.",)], "prefix string")
    extra_hist = {
        # a known SMTP server (port-25 weight) → smtp guard suppresses .80
        "smtp_guard": ("HIST01-10.1.0.80", 200, {"25": 0.9, "443": 0.1}, {}),
        # a known FTP server (port-21 weight) → no P2P for .90
        "ftp_server": ("HIST01-10.1.0.90", 100, {"21": 0.5}, {}),
    }
    if name in extra_hist:
        hists = hists.unionByName(spark.createDataFrame([extra_hist[name]], HIST))
    if name == "p2p_overlap":
        # the media client .100 and the DDoS victim .110 also run .90's
        # P2P mesh → both are suppressed as P2P talkers
        p2p = [r for r in datagen.sflow_rows() if "10.1.0.90" in (r[0], r[2])]
        extra = [
            tuple(ip if x == "10.1.0.90" else x for x in r)
            for ip in ("10.1.0.100", "10.1.0.110") for r in p2p
        ]
        sflows = sflows.unionByName(spark.createDataFrame(extra, sflows.schema))
    if name == "cc_203":
        bl = spark.createDataFrame([("203.0.",)], "prefix string")
    cfg = CFG
    if name == "excluded":
        cfg = replace(CFG, excluded_ips=frozenset(
            {"10.1.0.40", "66.66.66.66", "198.51.102.1", "55.55.3.1"}
        ))
    if name == "bare":
        # no saved state, no C&C list, and the media client's myPort excluded
        hists, bl = None, None
        cfg = replace(CFG, media_exclude_ports=frozenset({"5555"}))
    return sflows, hists, bl, cfg

@pytest.fixture(scope="module")
def case(spark):
    """case(name) → (alert rows per detector, p2p talker IP frame,
    media client IP frame), computed once per module."""
    done, cached = {}, []

    def run(name):
        if name not in done:
            sflows, hists, bl, cfg = _case_inputs(spark, name)
            summary = sflow_summary(sflows, datagen.MY_NETS).persist()
            cached.append(summary)
            icmp = icmp_summary(sflows, datagen.MY_NETS)
            per, p2p, media = D.stateless_alerts(
                summary, icmp, datagen.MY_NETS, cfg, hists, bl
            )
            tagged = None
            for k, df in per.items():
                df = df.withColumn("detector", F.lit(k))
                tagged = df if tagged is None else tagged.unionByName(df)
            rows = {k: [] for k in per}
            for r in tagged.collect():
                rows[r.detector].append(r)
            done[name] = (rows, p2p, media)
        return done[name]

    yield run
    for summary in cached:
        summary.unpersist()

@pytest.fixture(scope="module")
def summary(spark):
    s = sflow_summary(datagen.sflows_df(spark), datagen.MY_NETS).persist()
    s.count()
    yield s
    s.unpersist()

def lower_ips(rows):
    return sorted(r.lower_ip_str for r in rows)

def my_ips(frame):
    return sorted(r.myIP for r in frame.collect())

def test_dns_tunnel(case):
    assert lower_ips(case("defaults")[0]["dns_tunnel"]) == ["10.1.0.40"]  # .41 absent

def test_icmp_tunnel(case):
    assert lower_ips(case("defaults")[0]["icmp_tunnel"]) == ["10.1.0.50"]

def test_udp_amplifier(case):
    assert lower_ips(case("defaults")[0]["udp_amplifier"]) == ["10.1.0.60"]

def test_abused_smtp(case):
    got = case("defaults")[0]["abused_smtp"]
    assert [(r.lower_ip_str, r.upper_ip_str) for r in got] == [
        ("10.1.0.70", "203.0.114.7")
    ]

def test_smtp_talkers_stateless(case):
    rows = case("bare")[0]
    assert lower_ips(rows["smtp_talkers"]) == ["10.1.0.80"]
    assert "cc_botnet" not in rows  # no blacklist → no C&C rule

def test_smtp_talkers_state_guard(case):
    # a mature HIST01 with port-25 weight marks .80 as a known SMTP
    # server → suppressed (HogSFlow.scala:1073-1079)
    assert lower_ips(case("smtp_guard")[0]["smtp_talkers"]) == []

def test_p2p_and_dependency_chain(case, summary):
    ftp_pairs = D.ftp_talkers(summary)
    assert [(r.myIP, r.alienIP) for r in ftp_pairs.collect()] == [
        ("10.1.0.140", "44.44.44.44")
    ]
    rows, p2p_ips, _ = case("defaults")
    assert lower_ips(rows["p2p"]) == ["10.1.0.90"]
    assert my_ips(p2p_ips) == ["10.1.0.90"]

def test_p2p_suppressed_for_ftp_server(case):
    # learned HIST01 with port-21 weight → myIP is an FTP server → no P2P
    assert lower_ips(case("ftp_server")[0]["p2p"]) == []

def test_media_streaming(case):
    rows, _, media_ips = case("defaults")
    assert lower_ips(rows["media_client"]) == ["10.1.0.100"]  # .101: 10s session
    assert my_ips(media_ips) == ["10.1.0.100"]

def test_media_suppressed_for_p2p_talker(case):
    rows, p2p_ips, media_ips = case("p2p_overlap")
    assert "10.1.0.100" in my_ips(p2p_ips)
    assert lower_ips(rows["media_client"]) == [] and my_ips(media_ips) == []

def test_media_exclude_ports_is_read(case):
    # the planted client's myPort is 5555: excluding it silences the
    # signature (the default exclusion is {"1194"})
    assert CFG.media_exclude_ports == frozenset({"1194"})
    assert lower_ips(case("bare")[0]["media_client"]) == []

def test_alien_many_hosts(case):
    rows = case("defaults")[0]["alien_many_hosts"]
    assert [r.lower_ip_str for r in rows] == ["66.66.66.66"]
    assert rows[0].data["numberOfPairs"] == "21"
    assert "TCP/22" in rows[0].data["ports"]

def test_ddos(case):
    rows = case("defaults")[0]["ddos"]
    assert [r.lower_ip_str for r in rows] == ["10.1.0.110"]  # .111: 120s gaps
    assert rows[0].data["numberOfAttackers"] == "21"

def test_cc_botnet_prefix_match(case):
    rows = case("defaults")[0]["cc_botnet"]
    assert [r.lower_ip_str for r in rows] == ["10.1.0.120"]  # .121: 5 pkts
    assert rows[0].data["aliens"] == "203.0.113.7"

def test_os_inventory(spark, summary):
    rep = datagen.reputation_df(spark)
    os_repos = rep.filter(F.col("list") == "OSRepo").select(
        "ip",
        F.when(F.col("list_type") == "linux", "Linux")
        .when(F.col("list_type") == "windows", "Windows")
        .alias("os"),
    )
    inv = D.os_inventory(summary, os_repos)
    assert [(r.ip, r.os) for r in inv.collect()] == [("10.1.0.130", "Linux")]

def test_top_talkers_disabled_threshold(case):
    # nothing in the fixtures reaches 20 GB — empty like the reference
    assert lower_ips(case("defaults")[0]["top_talkers"]) == []

@pytest.mark.parametrize("name", sorted(GOLDENS))
def test_stateless_row_goldens(case, name):
    rows = case(name)[0]
    assert {k: digest(v) for k, v in rows.items()} == GOLDENS[name]

def test_registry_row_goldens(spark):
    import __spark_entry__ as E

    sf = os.path.join(os.path.dirname(E.SF_DEFAULT), "sf0.01")
    got = {}
    for q in REGISTRY_GOLDENS:
        rows = sorted(repr(tuple(r)) for r in E.queries()[q](spark, sf).collect())
        got[q] = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    assert got == REGISTRY_GOLDENS

def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]

def test_stateless_alerts_aggregate_summary_once(spark, summary):
    """Walk the optimized plan of the whole stateless alert union: the
    distinct Aggregates reading the cached summary with no Aggregate in
    between are the one (myIP, alienIP) rule aggregate (and at most
    ftp_talkers' distinct) — not one aggregate per detector."""
    icmp = icmp_summary(datagen.sflows_df(spark), datagen.MY_NETS)
    bl = spark.createDataFrame([("203.0.113.",)], "prefix string")
    per, _, _ = D.stateless_alerts(
        summary, icmp, datagen.MY_NETS, CFG, datagen.histograms_df(spark), bl
    )
    frames = list(per.values())
    alerts = frames[0]
    for df in frames[1:]:
        alerts = alerts.unionByName(df)
    cached = summary._jdf.queryExecution().optimizedPlan()

    def reads_summary(node):
        if node.getClass().getSimpleName() == "InMemoryRelation":
            return node.sameResult(cached)
        if node.getClass().getSimpleName() == "Aggregate":
            return False
        return any(reads_summary(c) for c in _children(node))

    found = set()

    def visit(node):
        if node.getClass().getSimpleName() == "Aggregate" and any(
            reads_summary(c) for c in _children(node)
        ):
            found.add(node.canonicalized().toString())
        for c in _children(node):
            visit(c)

    visit(alerts._jdf.queryExecution().optimizedPlan())
    assert 1 <= len(found) <= 2
