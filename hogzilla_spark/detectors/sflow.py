"""sFlow detector suite (SURVEY.md §2.11) — declarative DataFrame plans.

Each detector consumes the shared, persisted ``sflow_summary`` (A1) and
returns an alert DataFrame (schema from detectors.base.mk_alert).  The
reference computes these as hand-written RDD pipelines with driver-side
set materialization between detectors; here each inter-detector
dependency (ftpTalkers → p2p → media → DDoS …) is a DataFrame consumed
via broadcast anti/semi joins, so nothing funnels through the driver.

Threshold semantics (strict >, integer division, rate multiplication)
follow the reference exactly; citations on each function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from hogzilla_spark.config import SFlowConfig
from hogzilla_spark.detectors.base import SIGNATURES, collect_flows, mk_alert
from hogzilla_spark.functions.scalar import human_bytes, is_my_ip
from hogzilla_spark.operators.histogram import EPSILON

def _port_int(c: str) -> Column:
    return F.col(c).try_cast("int")

def _not_excluded(cfg: SFlowConfig) -> Column:
    if not cfg.excluded_ips:
        return F.lit(True)
    excl = list(cfg.excluded_ips)
    return ~F.col("myIP").isin(excl) & ~F.col("alienIP").isin(excl)

# flow-level rollup aggregates shared by every detector
def _flow_aggs(flow_limit: int) -> list[Column]:
    return [
        F.sum("bytesUp").alias("bytesUp"),
        F.sum("bytesDown").alias("bytesDown"),
        F.sum("numberPkts").alias("numberPkts"),
        F.count(F.lit(1)).alias("connections"),
        F.avg("sampleRate").alias("sampleRate"),
        collect_flows(flow_limit),
    ]

# --- dependency builders ----------------------------------------------------

def ftp_talkers(summary: DataFrame) -> DataFrame:
    """(myIP, alienIP) pairs with TCP port-21 traffic
    (HogSFlow.scala:1108-1133)."""
    return (
        summary.filter(
            (F.col("proto") == "TCP")
            & ((F.col("myPort") == "21") | (F.col("alienPort") == "21"))
        )
        .select("myIP", "alienIP")
        .distinct()
    )

def ftp_servers(histograms: DataFrame) -> DataFrame:
    """S8: IPs whose learned HIST01 has weight on port 21
    (HogHBaseHistogram.getIPListHIST01, :140-168)."""
    return (
        histograms.filter(F.col("hist_name").startswith("HIST01-"))
        .filter(F.coalesce(F.element_at("values", "21"), F.lit(0.0)) > EPSILON)
        .select(F.regexp_replace("hist_name", "^HIST01-", "").alias("myIP"))
    )

# --- detectors --------------------------------------------------------------

def smtp_talkers(
    summary: DataFrame,
    my_nets: list[str],
    cfg: SFlowConfig,
    histograms: DataFrame | None = None,
    batch_time: int = 0,
) -> DataFrame:
    """826001002 (HogSFlow.scala:1028-1099): hosts sending real SMTP
    volume that are not known SMTP servers per learned state.

    State guard: HIST01/HIST02 of myIP must NOT have port-25 weight > ε
    (isTypicalEvent) — expressed as a broadcast state join instead of the
    reference's per-row HBase Get.
    """
    base = (
        summary.filter(
            (F.col("alienPort") == "25")
            & (F.col("numberPkts") > 3)
            & ~is_my_ip("alienIP", my_nets)
            & _not_excluded(cfg)
        )
        .groupBy("myIP")
        .agg(*_flow_aggs(cfg.flow_list_limit))
        .filter(
            (F.col("connections") > 1)
            & ((F.col("bytesUp") + F.col("bytesDown")) * F.col("sampleRate")
               > cfg.smtp_talkers_min_bytes)
            & (F.col("numberPkts") > 20)
        )
    )
    if histograms is not None:
        for fam in ("HIST01", "HIST02"):
            typical25 = (
                histograms.filter(F.col("hist_name").startswith(f"{fam}-"))
                .filter(F.coalesce(F.element_at("values", "25"), F.lit(0.0)) > EPSILON)
                .select(F.regexp_replace("hist_name", f"^{fam}-", "").alias("myIP"))
            )
            base = base.join(broadcast(typical25), "myIP", "left_anti")
    base = base.orderBy(F.col("bytesUp").desc(), F.col("myIP")).limit(100)
    return mk_alert(
        base,
        SIGNATURES["smtp_talker"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.concat(
            F.lit("HZ: SMTP talker identified ("),
            F.col("connections"),
            F.lit(" flows, "),
            human_bytes("bytesUp * sampleRate"),
            F.lit(")"),
        ),
        {
            "hostname": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
            "connections": F.col("connections"),
        },
        batch_time,
    )

def p2p_talkers(
    summary: DataFrame,
    my_nets: list[str],
    cfg: SFlowConfig,
    ftp_talker_pairs: DataFrame,
    ftp_server_ips: DataFrame,
    batch_time: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """826001008 both methods (HogSFlow.scala:1144-1285).

    Returns (alerts, talkers) where talkers = DataFrame[myIP] feeding the
    media-streaming / atypical / DDoS suppression chain (J2).
    """
    # method 1: high ports both sides
    m1_pairs = (
        summary.filter(
            (_port_int("myPort") > 10000)
            & (_port_int("alienPort") > 10000)
            & (F.col("numberPkts") > 1)
            & _not_excluded(cfg)
        )
        .groupBy("myIP", "alienIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.avg("sampleRate").alias("sampleRate"),
            collect_flows(cfg.flow_list_limit),
            F.collect_set("myPort").alias("myPorts"),
        )
        .filter(~is_my_ip("alienIP", my_nets))
        .join(broadcast(ftp_talker_pairs), ["myIP", "alienIP"], "left_anti")
    )
    m1 = (
        m1_pairs.groupBy("myIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.count(F.lit(1)).alias("pairs"),
            F.avg("sampleRate").alias("sampleRate"),
            F.flatten(F.collect_list("flows")).alias("flows"),
            F.size(F.array_distinct(F.flatten(F.collect_list("myPorts")))).alias("nMyPorts"),
        )
        .filter(
            (F.col("pairs") > cfg.p2p_min_pairs)
            & (F.col("nMyPorts") > cfg.p2p_min_ports)
        )
        .join(broadcast(ftp_server_ips), "myIP", "left_anti")
    )
    # method 2: mid-range UDP mesh; suppress myIPs already found by m1
    m1_ips = m1.select("myIP")
    m2_pairs = (
        summary.filter(
            (F.col("proto") == "UDP")
            & (_port_int("myPort") > 1000)
            & (_port_int("myPort") < 10000)
            & (_port_int("alienPort") > 1000)
            & (_port_int("alienPort") < 10000)
            & (F.col("numberPkts") > 1)
            & _not_excluded(cfg)
        )
        .groupBy("myIP", "alienIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.avg("sampleRate").alias("sampleRate"),
            collect_flows(cfg.flow_list_limit),
            F.collect_set("alienPort").alias("alienPorts"),
        )
        .filter(~is_my_ip("alienIP", my_nets))
        .join(broadcast(m1_ips), "myIP", "left_anti")
    )
    m2 = (
        m2_pairs.groupBy("myIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.count(F.lit(1)).alias("pairs"),
            F.avg("sampleRate").alias("sampleRate"),
            F.flatten(F.collect_list("flows")).alias("flows"),
            F.size(F.array_distinct(F.flatten(F.collect_list("alienPorts")))).alias("nAlienPorts"),
        )
        .filter(
            (F.col("pairs") > cfg.p2p_min_pairs_2nd)
            & (F.col("nAlienPorts") > cfg.p2p_min_ports_2nd)
            # 2nd method compares RAW bytes, no sampleRate (reference :1259)
            & (F.col("bytesUp") + F.col("bytesDown") > cfg.p2p_min_bytes_2nd)
        )
        .join(broadcast(ftp_server_ips), "myIP", "left_anti")
    )

    def alert(df: DataFrame) -> DataFrame:
        return mk_alert(
            df,
            SIGNATURES["p2p"],
            F.col("myIP"),
            F.lit("255.255.255.255"),
            F.lit("HZ: P2P communication"),
            {
                "numberOfPairs": F.col("pairs"),
                "myIP": F.col("myIP"),
                "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
                "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
                "numberPkts": F.col("numberPkts"),
            },
            batch_time,
        )

    alerts = alert(m1).unionByName(alert(m2))
    talkers = m1.select("myIP").unionByName(m2.select("myIP")).distinct()
    return alerts, talkers

def media_streaming_clients(
    summary: DataFrame,
    my_nets: list[str],
    cfg: SFlowConfig,
    p2p_talker_ips: DataFrame,
    batch_time: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """826001011 (HogSFlow.scala:1288-1363): few long download-heavy
    mid-port TCP sessions.  Duration bounds are exclusive."""
    pairs = (
        summary.filter(
            (F.col("proto") == "TCP")
            & (_port_int("myPort") > 1000)
            & (_port_int("alienPort") > 1000)
            & (_port_int("alienPort") < 10000)
            & (F.col("numberPkts") > 1)
            & (F.col("myPort") != "1194")
            & (F.col("alienPort") != "1194")
            & _not_excluded(cfg)
        )
        .groupBy("myIP", "alienIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.min("beginTime").alias("beginTime"),
            F.max("endTime").alias("endTime"),
            F.avg("sampleRate").alias("sampleRate"),
            collect_flows(cfg.flow_list_limit),
        )
        .filter(
            ~is_my_ip("alienIP", my_nets)
            & ((F.col("endTime") - F.col("beginTime")) > cfg.media_min_duration_s)
            & ((F.col("endTime") - F.col("beginTime")) < cfg.media_max_duration_s)
        )
        .join(broadcast(p2p_talker_ips), "myIP", "left_anti")
    )
    hosts = (
        pairs.groupBy("myIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.count(F.lit(1)).alias("pairs"),
            F.avg("sampleRate").alias("sampleRate"),
            F.flatten(F.collect_list("flows")).alias("flows"),
        )
        .filter(
            (F.col("pairs") < cfg.p2p_min_pairs_2nd)  # mediaClientPairsThreshold
            & (F.col("bytesUp") * F.col("sampleRate") < cfg.media_max_upload_bytes)
            & (F.col("bytesDown") * F.col("sampleRate") >= cfg.media_min_download_bytes)
        )
    )
    alerts = mk_alert(
        hosts,
        SIGNATURES["media_client"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.lit("HZ: Media streaming client"),
        {
            "numberOfPairs": F.col("pairs"),
            "myIP": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
            "connections": F.size("flows"),
        },
        batch_time,
    )
    return alerts, hosts.select("myIP").distinct()

def dns_tunnel(
    summary: DataFrame, my_nets: list[str], cfg: SFlowConfig, batch_time: int = 0
) -> DataFrame:
    """826001012 (HogSFlow.scala:2276-2325): UDP/53 flows moving tunnel-
    scale bytes BOTH ways (per-flow threshold), top-30 hosts."""
    hosts = (
        summary.filter(
            (F.col("alienPort") == "53")
            & (F.col("proto") == "UDP")
            & (F.col("bytesUp") * F.col("sampleRate") > cfg.dns_tunnel_min_bytes)
            & (F.col("bytesDown") * F.col("sampleRate") > cfg.dns_tunnel_min_bytes)
            & ~is_my_ip("alienIP", my_nets)
            & _not_excluded(cfg)
        )
        .groupBy("myIP")
        .agg(*_flow_aggs(cfg.flow_list_limit))
        .orderBy((F.col("bytesUp") + F.col("bytesDown")).desc(), F.col("myIP"))
        .limit(30)
    )
    return mk_alert(
        hosts,
        SIGNATURES["dns_tunnel"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.concat(
            F.lit("HZ: DNS tunnel ("),
            human_bytes("(bytesUp + bytesDown) * sampleRate"),
            F.lit(")"),
        ),
        {
            "hostname": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
            "connections": F.col("connections"),
        },
        batch_time,
    )

def icmp_tunnel(icmp: DataFrame, cfg: SFlowConfig, batch_time: int = 0) -> DataFrame:
    """826001013 (HogSFlow.scala:2330-2386): ICMP flows with big payloads
    per packet and tunnel-scale total; integer division like the
    reference's Long math; top-30."""
    per_pkt = F.expr("(bytesUp + bytesDown) div numberPkts")
    hosts = (
        icmp.filter(per_pkt > cfg.icmp_tunnel_min_pkt_bytes)
        .groupBy("myIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.count(F.lit(1)).alias("connections"),
            F.avg("sampleRate").alias("sampleRate"),
        )
        .filter(
            (F.col("bytesUp") + F.col("bytesDown")) * F.col("sampleRate")
            > cfg.icmp_tunnel_min_bytes
        )
        .orderBy((F.col("bytesUp") + F.col("bytesDown")).desc(), F.col("myIP"))
        .limit(30)
    )
    return mk_alert(
        hosts,
        SIGNATURES["icmp_tunnel"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.lit("HZ: ICMP Tunnel"),
        {
            "hostname": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
            "connections": F.col("connections"),
        },
        batch_time,
    )

def udp_amplifier(
    summary: DataFrame, my_nets: list[str], cfg: SFlowConfig, batch_time: int = 0
) -> DataFrame:
    """826001009 (HogSFlow.scala:2150-2208): reflection sources on
    amplification ports; bytesUp/numberPkts is integer division."""
    per_pkt_up = F.expr("bytesUp div numberPkts")
    hosts = (
        summary.filter(
            F.col("myPort").isin(sorted(cfg.udp_amp_ports))
            & (F.col("proto") == "UDP")
            & (F.col("numberPkts") * F.col("sampleRate") > cfg.udp_amp_min_pkts)
            & (per_pkt_up > 250)
            & ~is_my_ip("alienIP", my_nets)
            & _not_excluded(cfg)
        )
        .groupBy("myIP")
        .agg(*_flow_aggs(cfg.flow_list_limit))
    )
    return mk_alert(
        hosts,
        SIGNATURES["udp_amplifier"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.lit("HZ: UDP amplifier (DDoS)"),
        {
            "hostname": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
            "connections": F.col("connections"),
        },
        batch_time,
    )

def abused_smtp(
    summary: DataFrame, my_nets: list[str], cfg: SFlowConfig, batch_time: int = 0
) -> DataFrame:
    """826001010 (HogSFlow.scala:2215-2269): submission-port servers
    pushing bulk mail to one alien; top-100 pairs by bytesDown."""
    pairs = (
        summary.filter(
            F.col("myPort").isin("465", "587")
            & (F.col("proto") == "TCP")
            & ~is_my_ip("alienIP", my_nets)
            & _not_excluded(cfg)
        )
        .groupBy("myIP", "alienIP")
        .agg(*_flow_aggs(cfg.flow_list_limit))
        .filter(
            (F.col("connections") > 50)
            & (F.col("bytesDown") * F.col("sampleRate") > cfg.abused_smtp_min_bytes)
        )
        .orderBy(F.col("bytesDown").desc(), F.col("myIP"), F.col("alienIP"))
        .limit(100)
    )
    return mk_alert(
        pairs,
        SIGNATURES["abused_smtp"],
        F.col("myIP"),
        F.col("alienIP"),
        F.lit("HZ: Abused SMTP Server"),
        {
            "hostname": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
            "connections": F.col("connections"),
        },
        batch_time,
    )

def alien_accessing_many_hosts(
    summary: DataFrame, my_nets: list[str], cfg: SFlowConfig, batch_time: int = 0
) -> DataFrame:
    """826001007 (HogSFlow.scala:2079-2142): one alien touching > N
    internal hosts on inbound-voted flows; the horizontal-scan alert."""
    pairs = (
        summary.filter(
            (F.col("direction") < 0)
            & ~is_my_ip("alienIP", my_nets)
            & _not_excluded(cfg)
        )
        .groupBy("myIP", "alienIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.avg("sampleRate").alias("sampleRate"),
            collect_flows(cfg.flow_list_limit),
            F.collect_set(F.concat_ws("/", "proto", "myPort")).alias("portSet"),
        )
    )
    aliens = (
        pairs.groupBy("alienIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.count(F.lit(1)).alias("pairs"),
            F.avg("sampleRate").alias("sampleRate"),
            F.flatten(F.collect_list("flows")).alias("flows"),
            F.array_distinct(F.flatten(F.collect_list("portSet"))).alias("ports"),
        )
        .filter((F.col("pairs") > cfg.alien_min_pairs) & (F.col("alienIP") != "0.0.0.0"))
    )
    return mk_alert(
        aliens,
        SIGNATURES["alien_many_hosts"],
        F.col("alienIP"),
        F.lit("255.255.255.255"),
        F.concat(
            F.lit("HZ: Horizontal scan on ports "),
            F.concat_ws(", ", F.array_sort("ports")),
        ),
        {
            "numberOfPairs": F.col("pairs"),
            "alienIP": F.col("alienIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
            "ports": F.concat_ws(", ", F.array_sort("ports")),
        },
        batch_time,
    )

def cc_botnet(
    summary: DataFrame,
    blacklist: DataFrame,
    cfg: SFlowConfig,
    batch_time: int = 0,
) -> DataFrame:
    """826001017 (HogSFlow.scala:2761-2827): alien matches a C&C
    blacklist entry by STRING PREFIX (J3).  blacklist: DataFrame[prefix].

    Scale note: the blacklist join is a broadcast prefix match; the big
    side never shuffles.
    """
    hits = summary.filter(
        (F.col("myPort").try_cast("long") > 1023)
        & (F.col("numberPkts") >= cfg.cc_min_pkts_per_flow)
        & _not_excluded(cfg)
    ).join(
        broadcast(blacklist.select(F.col("prefix"))),
        F.col("alienIP").startswith(F.col("prefix")),
        "left_semi",
    )
    hosts = hits.groupBy("myIP").agg(
        F.collect_set("alienIP").alias("aliens"),
        *_flow_aggs(cfg.flow_list_limit),
    )
    return mk_alert(
        hosts,
        SIGNATURES["cc_botnet"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.concat(
            F.lit("HZ: C&C BotNet communication - "),
            F.col("myIP"),
            F.lit(" <?> "),
            F.concat_ws(",", F.array_sort("aliens")),
        ),
        {
            "hostname": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
            "connections": F.col("connections"),
            "aliens": F.concat_ws(",", F.array_sort("aliens")),
        },
        batch_time,
    )

def os_inventory(summary: DataFrame, os_repos: DataFrame) -> DataFrame:
    """OS fingerprinting via contacted OS-update servers (J5+A12,
    HogSFlow.scala:2829-2877).  os_repos: DataFrame[ip, os].  Returns the
    inventory rows (ip, os) — one per (myIP, OS) like the reference's
    per-member saveInventory."""
    return (
        summary.join(
            broadcast(os_repos.withColumnRenamed("ip", "alienIP")), "alienIP"
        )
        .select(F.col("myIP").alias("ip"), "os")
        .distinct()
    )

def ddos_attack(
    summary: DataFrame,
    my_nets: list[str],
    cfg: SFlowConfig,
    p2p_talker_ips: DataFrame,
    batch_time: int = 0,
) -> DataFrame:
    """826001016 (HogSFlow.scala:2648-2758): many short regular inbound
    flows, download-heavy, from > N attackers.

    Inter-arrival test (reference :2695-2722): sort the pair's flow
    beginTimes, adjacent diffs (n−1 of them), keep the n−4 smallest
    (dropping the 3 largest), mean < 60 s; requires n > 6.  Implemented
    as array expressions inside the grouped aggregation — no second
    shuffle, no window.
    """
    pairs = (
        summary.filter(
            ~is_my_ip("alienIP", my_nets)
            & ~F.col("alienPort").isin(sorted(cfg.ddos_exclude_alien_ports))
            & (F.col("direction") < 1)
            & _not_excluded(cfg)
        )
        .groupBy("myIP", "alienIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.count(F.lit(1)).alias("numberOfFlows"),
            F.avg("sampleRate").alias("sampleRate"),
            F.sort_array(F.collect_list("beginTime")).alias("times"),
            collect_flows(cfg.flow_list_limit),
        )
    )
    n = F.size("times")
    diffs = F.array_sort(
        F.zip_with(
            F.slice(F.col("times"), 2, 2147483646),
            F.slice(F.col("times"), 1, 2147483646),
            lambda a, b: a - b,
        )
    )
    kept = F.slice(diffs, 1, F.greatest(n - 4, F.lit(0)))
    mean_gap = F.aggregate(kept, F.lit(0).cast("long"), lambda acc, x: acc + x) / (n - 4)
    regular = (n > 6) & (mean_gap < 60)
    victims = (
        pairs.filter(
            (F.col("numberOfFlows") > cfg.ddos_min_flows)
            & regular
            & (F.col("bytesDown") > F.col("bytesUp"))
        )
        .join(broadcast(p2p_talker_ips), "myIP", "left_anti")
        .groupBy("myIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.sum("numberOfFlows").alias("numberOfFlows"),
            F.count(F.lit(1)).alias("attackers"),
            F.avg("sampleRate").alias("sampleRate"),
            F.flatten(F.collect_list("flows")).alias("flows"),
        )
        .filter(F.col("attackers") > cfg.ddos_min_pairs)
    )
    return mk_alert(
        victims,
        SIGNATURES["ddos"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.lit("HZ: Server under DDoS attack"),
        {
            "numberOfFlows": F.col("numberOfFlows"),
            "numberOfAttackers": F.col("attackers"),
            "myIP": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
        },
        batch_time,
    )

def top_talkers(
    summary: DataFrame, my_nets: list[str], cfg: SFlowConfig, batch_time: int = 0
) -> DataFrame:
    """826001001 (disabled in the reference, HogSFlow.scala:967-1020;
    implemented for surface completeness): hosts uploading > 20 GB."""
    hosts = (
        summary.filter(~is_my_ip("alienIP", my_nets) & _not_excluded(cfg))
        .groupBy("myIP")
        .agg(*_flow_aggs(cfg.flow_list_limit))
        .filter(F.col("bytesUp") * F.col("sampleRate") > cfg.top_talkers_min_bytes)
    )
    return mk_alert(
        hosts,
        SIGNATURES["top_talker"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.concat(
            F.lit("HZ: Top talker identified ("),
            human_bytes("bytesUp * sampleRate"),
            F.lit(")"),
        ),
        {
            "hostname": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
            "connections": F.col("connections"),
        },
        batch_time,
    )
