"""Stateful sFlow detectors (SURVEY.md §2.9 H9/H10, §2.11) — the
histogram-state analytics.

Contract per detector: ``fn(...) -> (alerts_df, state_updates_df[, extra])``
where state updates follow state.store (hist_name, size, values, labels,
mode).  Each detector builds ONE scored frame: its traffic rollup
(:func:`_rollup`) at entity grain, left-joined once to each saved family
it reads (:func:`_scored`, over ``store.saved_family``).  Its alerts
(:func:`_alert`) and its state updates are both projections of that
frame, so scoring always reads the SAVED (pre-merge) state, exactly like
the reference's get-score-merge sequence; the merge itself happens once,
batched, in state.store.apply_updates.  Every frame is lazy: the caller
decides what to materialize.

Deterministic divergence (documented, SURVEY.md §4 item 4): when one
entity gets several within-batch observations (vPortScan pairs), the
reference merges them sequentially in arbitrary order; we pre-combine
them into one batch histogram, then merge once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from hogzilla_spark.config import HistogramConfig, SFlowConfig
from hogzilla_spark.detectors.base import SIGNATURES, mk_alert
from hogzilla_spark.functions.scalar import ip_significant_network, is_my_ip, log_bin
from hogzilla_spark.operators.histogram import EPSILON, is_atypical, is_typical
from hogzilla_spark.state.store import EMPTY_MAP_D, mk_update, saved_family

def _rollup(df: DataFrame, keys: list[str], *extra: Column) -> DataFrame:
    """Traffic per `keys`: summed bytes and packets, mean sampleRate,
    plus the `extra` aggregates."""
    return df.groupBy(*keys).agg(
        F.sum("bytesUp").alias("bytesUp"),
        F.sum("bytesDown").alias("bytesDown"),
        F.sum("numberPkts").alias("numberPkts"),
        F.avg("sampleRate").alias("sampleRate"),
        *extra,
    )

def _scored(
    df: DataFrame, histograms: DataFrame, family: str, gate: int, prefix: str = "s_"
) -> DataFrame:
    """`df` left-joined on myIP to the saved `family` state
    (``<prefix>size``, ``<prefix>values``), plus ``<prefix>mature``: the
    saved size reaches `gate` (an unsaved entity only learns)."""
    return df.join(saved_family(histograms, family, "myIP", prefix), "myIP", "left").withColumn(
        prefix + "mature", F.coalesce(F.col(prefix + "size"), F.lit(0)) >= gate
    )

def _alert(
    df: DataFrame,
    sig_key: str,
    title: Column,
    keys: dict[str, Column],
    batch_time: int,
    peer: Column | None = None,
) -> DataFrame:
    """One alert per row on myIP (and `peer`, else the broadcast
    address): the detector's data `keys`, then the sampleRate-scaled
    traffic keys."""
    rate = F.col("sampleRate")
    data = {
        **keys,
        "bytesUp": (F.col("bytesUp") * rate).cast("long"),
        "bytesDown": (F.col("bytesDown") * rate).cast("long"),
        "numberPkts": F.col("numberPkts"),
    }
    upper = F.lit("255.255.255.255") if peer is None else peer
    return mk_alert(df, SIGNATURES[sig_key], F.col("myIP"), upper, title, data, batch_time)

def _shares() -> Column:
    """The batch share histogram: per-key ``counts`` over ``n_flows``
    (empty for a host with no counted key)."""
    return F.coalesce(
        F.transform_values("counts", lambda _, n: n / F.col("n_flows")), EMPTY_MAP_D()
    )

def _ports_title(text: str) -> Column:
    return F.concat(F.lit(text + " ("), F.concat_ws(",", "ports"), F.lit(")"))

# ---------------------------------------------------------------------------
# 826001003 — Atypical TCP port used (HIST01, gate 100)
# ---------------------------------------------------------------------------

def atypical_tcp_port(
    summary: DataFrame,
    cfg: SFlowConfig,
    hcfg: HistogramConfig,
    histograms: DataFrame,
    ftp_talker_pairs: DataFrame,
    p2p_talker_ips: DataFrame,
    proxy_servers: list[str],
    batch_time: int = 0,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """HogSFlow.scala:1377-1536.  Per-myIP share histogram of confirmed
    open ports; server-port heuristic with proxy self-learning; atypical
    vs saved HIST01.  Returns (alerts, state_updates, new_proxy_ips)."""
    flows = (
        summary.filter(
            (F.col("numberPkts") >= cfg.atypical_tcp_min_pkts)
            & (F.col("status") > 0)
        )
        .join(broadcast(ftp_talker_pairs), ["myIP", "alienIP"], "left_anti")
        .join(broadcast(p2p_talker_ips), "myIP", "left_anti")
    )
    port_stats = flows.groupBy("myIP", "myPort").agg(
        F.count(F.lit(1)).alias("f_p"),
        F.countDistinct("alienPort").alias("a_p"),
        F.countDistinct(
            F.when(F.col("alienPort").try_cast("long") < 1024, F.col("alienPort"))
        ).alias("l_p"),
        F.max(F.when(F.col("direction") < 0, 1).otherwise(0)).alias("inbound"),
    )
    is_proxy_ip = F.col("myIP").isin(list(proxy_servers)) if proxy_servers else F.lit(False)
    serves = (F.col("a_p") > 3) & (F.col("a_p") / F.col("f_p") > 0.2)
    proxy_detected = serves & (F.col("l_p") > 2) & (F.col("a_p") / F.col("l_p") > 0.5)
    keep = F.when(is_proxy_ip, F.col("inbound") == 1).otherwise(
        serves & ~proxy_detected
    )
    new_proxies = port_stats.filter(~is_proxy_ip & proxy_detected).select("myIP").distinct()
    kept = (
        port_stats.filter(keep)
        .groupBy("myIP")
        .agg(F.map_from_entries(F.collect_list(F.struct("myPort", "f_p"))).alias("counts"))
    )
    hosts = _scored(
        _rollup(flows, ["myIP"], F.count(F.lit(1)).alias("n_flows")).join(kept, "myIP", "left"),
        histograms,
        "HIST01",
        hcfg.gate_hist01,
    ).withColumn("values", _shares())
    excluded = sorted(cfg.atypical_ports_exclude)
    ports = F.map_filter(
        "values",
        lambda port, w: (w > EPSILON)
        & is_atypical("s_values", port)
        & ~port.isin(excluded)
        & (is_atypical("s_values", "21") | (port.try_cast("long") < 1024)),
    )
    alerts = _alert(
        hosts.withColumn("ports", F.array_sort(F.map_keys(ports))).filter(
            F.col("s_mature") & (F.size("ports") > 0)
        ),
        "atypical_tcp_port",
        _ports_title("HZ: Atypical TCP port used"),
        {"myIP": F.col("myIP"), "tcpport": F.concat_ws(",", "ports")},
        batch_time,
    )
    updates = mk_update(
        hosts.select("myIP", F.col("n_flows").alias("size"), "values"), "HIST01", "myIP"
    )
    return alerts, updates, new_proxies

# ---------------------------------------------------------------------------
# 826001004 — Atypical alien TCP port (HIST02 + HIST02.1, gate 1000)
# ---------------------------------------------------------------------------

def atypical_alien_tcp_port(
    summary: DataFrame,
    my_nets: list[str],
    cfg: SFlowConfig,
    hcfg: HistogramConfig,
    histograms: DataFrame,
    ftp_talker_pairs: DataFrame,
    p2p_talker_ips: DataFrame,
    media_client_ips: DataFrame,
    batch_time: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """HogSFlow.scala:1545-1727.  Alien-port share histogram per myIP
    cross-checked three ways: saved HIST02 (atypical), previous snapshot
    HIST02.1 (typical), and the alien network's HIST05 (J8: some alien
    using the port must find it atypical too)."""
    flows = (
        summary.filter(
            (F.col("numberPkts") >= cfg.atypical_alien_tcp_min_pkts)
            & (F.col("alienPort").try_cast("long") < 10000)
            & (F.col("direction") > -1)
            & (F.col("myPort").try_cast("long") > 1024)
            & (F.col("myPort") != "8080")
            & ~is_my_ip("alienIP", my_nets)
            & (F.col("proto") == "TCP")
            & (F.col("status") > 0)
        )
        .join(broadcast(ftp_talker_pairs), ["myIP", "alienIP"], "left_anti")
        .join(broadcast(p2p_talker_ips), "myIP", "left_anti")
        .join(broadcast(media_client_ips), "myIP", "left_anti")
    )
    # ports aliens use as CLIENT ports: (myIP,myPort) groups with >1 flow
    client_ports = (
        flows.groupBy("myIP", "myPort")
        .agg(F.count(F.lit(1)).alias("q"), F.collect_set("alienPort").alias("aps"))
        .filter(F.col("q") > 1)
        .select("myIP", F.explode("aps").alias("port"))
        .distinct()
    )
    counts = (
        flows.groupBy("myIP", F.col("alienPort").alias("port"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(client_ports, ["myIP", "port"], "left_anti")
        .groupBy("myIP")
        .agg(F.map_from_entries(F.collect_list(F.struct("port", "cnt"))).alias("counts"))
    )
    hosts = _scored(
        _scored(
            _rollup(flows, ["myIP"], F.count(F.lit(1)).alias("n_flows")).join(
                counts, "myIP", "left"
            ),
            histograms,
            "HIST02",
            hcfg.gate_hist02,
        ),
        histograms,
        "HIST02.1",
        1,
        "p_",
    ).withColumn("values", _shares())
    ports = F.map_filter(
        "values",
        lambda port, w: (w > EPSILON)
        & is_atypical("s_values", port)
        & is_typical("p_values", port),
    )
    # J8: keep a port only if it is atypical for the HIST05 of some alien
    # network using it (the flow filter keeps only aliens outside
    # my_nets, so the reference's HIST01 arm cannot fire)
    traffic = ["myIP", "bytesUp", "bytesDown", "numberPkts", "sampleRate"]
    checked = (
        hosts.filter(F.col("s_mature") & F.col("p_mature"))
        .select(*traffic, F.explode(F.map_keys(ports)).alias("port"))
        .join(flows.select("myIP", F.col("alienPort").alias("port"), "alienIP"), ["myIP", "port"])
        .withColumn("alienNet", ip_significant_network("alienIP"))
        .join(saved_family(histograms, "HIST05", "alienNet", "a_"), "alienNet", "left")
        .filter(is_atypical("a_values", F.col("port")))
        .groupBy(*traffic)
        .agg(F.array_sort(F.collect_set("port")).alias("ports"))
    )
    alerts = _alert(
        checked,
        "atypical_alien_tcp_port",
        _ports_title("HZ: Atypical Alien TCP port used"),
        {"myIP": F.col("myIP"), "tcpport": F.concat_ws(",", "ports")},
        batch_time,
    )
    # state transitions (reference :1638-1723): an immature host merges
    # the batch into HIST02; a mature one merges the previous snapshot
    # (if any) into HIST02 and replaces HIST02.1 with the batch
    imm, prev = ~F.col("s_mature"), F.col("p_mature")
    rows = F.array(
        F.struct(
            F.lit("HIST02").alias("family"),
            F.lit("merge").alias("mode"),
            F.when(imm, F.col("n_flows")).when(prev, F.col("p_size")).alias("size"),
            F.when(imm, F.col("values")).when(prev, F.col("p_values")).alias("values"),
        ),
        F.struct(
            F.lit("HIST02.1").alias("family"),
            F.lit("replace").alias("mode"),
            F.when(~imm, F.col("n_flows")).alias("size"),
            F.when(~imm, F.col("values")).alias("values"),
        ),
    )
    updates = mk_update(
        hosts.select("myIP", F.inline(rows)).filter(F.col("size").isNotNull()),
        F.col("family"),
        "myIP",
        F.col("mode"),
    )
    return alerts, updates

# ---------------------------------------------------------------------------
# 826001005 / 826001006 — Atypical pairs / amount of data (HIST03/HIST04)
# ---------------------------------------------------------------------------

def _host_pairs(flows: DataFrame) -> DataFrame:
    """(myIP, alienIP) pairs rolled up to myIP, with the pair count."""
    return _rollup(
        _rollup(flows, ["myIP", "alienIP"]), ["myIP"], F.count(F.lit(1)).alias("pairs")
    )

def _single_bucket_detector(
    rolled: DataFrame,
    family: str,
    gate: int,
    bucket: Column,
    sig_key: str,
    title: Column,
    histograms: DataFrame,
    batch_time: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared HIST03/HIST04 shape (HogSFlow.scala:1737-1936): one
    log-binned observation per entity per batch; alert when the bucket is
    new AND the saved histogram is concentrated (<5 buckets > 0.001)."""
    rows = _scored(
        rolled.withColumn("bucket", bucket.cast("long").cast("string")),
        histograms,
        family,
        gate,
    )
    concentrated = F.size(F.map_filter("s_values", lambda k, v: v > 0.001)) < 5
    alerts = _alert(
        rows.filter(
            F.col("s_mature") & is_atypical("s_values", F.col("bucket")) & concentrated
        ),
        sig_key,
        title,
        {"numberOfPairs": F.col("pairs"), "myIP": F.col("myIP")},
        batch_time,
    )
    updates = mk_update(
        rows.select(
            "myIP",
            F.lit(1).alias("size"),
            F.map_from_arrays(F.array("bucket"), F.array(F.lit(1.0))).alias("values"),
        ),
        family,
        "myIP",
    )
    return alerts, updates

def atypical_pairs(
    summary: DataFrame,
    cfg: SFlowConfig,
    hcfg: HistogramConfig,
    histograms: DataFrame,
    p2p_talker_ips: DataFrame,
    batch_time: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """826001005 (HogSFlow.scala:1737-1828): log-binned #distinct-pairs
    per myIP vs HIST03."""
    rolled = (
        _host_pairs(summary.filter(F.col("numberPkts") > 1))
        .join(broadcast(p2p_talker_ips), "myIP", "left_anti")
        .filter(F.col("pairs") > cfg.atypical_pairs_min)
    )
    return _single_bucket_detector(
        rolled,
        "HIST03",
        hcfg.gate_hist03,
        log_bin(F.col("pairs"), 1000.0),
        "atypical_pairs",
        F.concat(
            F.lit("HZ: Atypical number of pairs in the period ("),
            F.col("pairs"),
            F.lit(")"),
        ),
        histograms,
        batch_time,
    )

def atypical_data(
    summary: DataFrame,
    my_nets: list[str],
    cfg: SFlowConfig,
    hcfg: HistogramConfig,
    histograms: DataFrame,
    p2p_talker_ips: DataFrame,
    media_client_ips: DataFrame,
    big_provider_nets: list[str],
    batch_time: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """826001006 (HogSFlow.scala:1836-1936): log-binned bytesUp per myIP
    vs HIST04; big-provider destinations excluded by prefix."""
    rolled = (
        _host_pairs(
            summary.filter(
                (F.col("direction") > -1)
                & (F.col("myPort").try_cast("long") > 1024)
                & (F.col("myPort") != "8080")
                & ~is_my_ip("alienIP", my_nets)
                & ~is_my_ip("alienIP", big_provider_nets)
            )
        )
        .join(broadcast(p2p_talker_ips), "myIP", "left_anti")
        .join(broadcast(media_client_ips), "myIP", "left_anti")
        .filter(F.col("bytesUp") * F.col("sampleRate") > cfg.atypical_data_min_bytes)
    )
    return _single_bucket_detector(
        rolled,
        "HIST04",
        hcfg.gate_hist04,
        log_bin(F.col("bytesUp"), 0.0001),
        "atypical_data",
        F.lit("HZ: Atypical amount of data transferred"),
        histograms,
        batch_time,
    )

# ---------------------------------------------------------------------------
# Alien-network profiling (HIST05/HIST06, no alert) + BigProvider learning
# ---------------------------------------------------------------------------

def alien_network_profile(
    summary: DataFrame,
    my_nets: list[str],
    cfg: SFlowConfig,
    ftp_talker_pairs: DataFrame,
    p2p_talker_ips: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """HogSFlow.scala:1947-2069: per-alien-/24 port (HIST05) and
    log-bytes (HIST06) histograms, gated on >4 distinct internal pairs;
    auto-whitelists networks serving >1 GB flows.  Reads no saved state.
    Returns (state_updates, new_big_provider_nets)."""
    flows = (
        summary.filter(
            (F.col("myPort").try_cast("long") > 1024)
            & (F.col("alienPort").try_cast("long") < 10000)
            & (F.col("proto") == "TCP")
            & ~is_my_ip("alienIP", my_nets)
        )
        .join(broadcast(p2p_talker_ips), "myIP", "left_anti")
        .join(broadcast(ftp_talker_pairs), ["myIP", "alienIP"], "left_anti")
        .withColumn("alienNet", ip_significant_network("alienIP"))
    )
    nets = (
        flows.groupBy("alienNet")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.countDistinct("myIP").alias("n_my"),
            F.max(F.col("bytesUp") * F.col("sampleRate")).alias("maxBytesUp"),
        )
        .filter(F.col("n_my") > 4)
    )
    profiled = flows.join(nets.select("alienNet", "n_flows"), "alienNet")
    port_hist = (
        profiled.groupBy("alienNet", "alienPort")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("n_flows").alias("n_flows"))
        .groupBy("alienNet")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(F.col("alienPort"), F.col("cnt") / F.col("n_flows"))
                )
            ).alias("values"),
            F.max("n_flows").alias("size"),
        )
    )
    # HIST06: presence-marked log-bytes buckets (the reference's
    # set-collapse makes every observed bucket weight exactly 1.0)
    bytes_hist = (
        profiled.filter(F.col("myPort").try_cast("long") > 1023)
        .select(
            "alienNet",
            "n_flows",
            log_bin(F.col("bytesUp") * F.col("sampleRate"), 0.0001)
            .cast("long")
            .cast("string")
            .alias("bucket"),
        )
        .distinct()
        .groupBy("alienNet")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.lit(1.0)))
            ).alias("values"),
            F.max("n_flows").alias("size"),
        )
    )
    updates = mk_update(port_hist, "HIST05", "alienNet").unionByName(
        mk_update(bytes_hist, "HIST06", "alienNet")
    )
    big_providers = nets.filter(
        F.col("maxBytesUp") > cfg.big_provider_min_bytes
    ).select(F.col("alienNet").alias("prefix"))
    return updates, big_providers

# ---------------------------------------------------------------------------
# 826001014 — Horizontal portscan (HIST07, gate 100, mergeMax)
# ---------------------------------------------------------------------------

def horizontal_portscan(
    summary: DataFrame,
    my_nets: list[str],
    cfg: SFlowConfig,
    hcfg: HistogramConfig,
    histograms: DataFrame,
    p2p_talker_ips: DataFrame,
    batch_time: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """HogSFlow.scala:2389-2533: #distinct aliens touched per (myIP,
    alienPort) on tiny flows; count-valued HIST07 compared by magnitude
    (saved[port] < current → atypical), merged with pointwise max.

    Reference parity note: the SMTP-server exception at :2484-2487 is
    dead code (its result is discarded), so it is NOT applied here.
    """
    flows = summary.filter(
        ~F.col("alienPort").isin(sorted(cfg.hps_exclude_alien_ports))
        & (
            ~is_my_ip("alienIP", my_nets)
            | ~F.col("alienPort").isin(sorted(cfg.hps_exclude_my_ports))
        )
        & (F.col("numberPkts") < 5)
    )
    per_port = _rollup(
        _rollup(flows, ["myIP", "alienIP", "alienPort"], F.count(F.lit(1)).alias("n_flows")),
        ["myIP", "alienPort"],
        F.sum("n_flows").alias("n_flows"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    rows = _scored(
        per_port.filter(F.col("n_pairs") > cfg.hps_min_flows).join(
            broadcast(p2p_talker_ips), "myIP", "left_anti"
        ),
        histograms,
        "HIST07",
        hcfg.gate_hist07,
    )
    saved_pairs = F.coalesce(F.element_at("s_values", F.col("alienPort")), F.lit(0.0))
    alert_base = _rollup(
        rows.filter(F.col("s_mature") & (saved_pairs.cast("long") < F.col("n_pairs"))),
        ["myIP"],
        F.sum("n_flows").alias("n_flows"),
        F.concat_ws(
            ", ",
            F.array_sort(
                F.collect_list(F.concat(F.col("alienPort"), F.lit("="), F.col("n_pairs")))
            ),
        ).alias("perPort"),
        F.array_sort(F.collect_list("alienPort")).alias("ports"),
    )
    alerts = _alert(
        alert_base,
        "horizontal_portscan",
        F.concat(
            F.lit("HZ: Horizontal scan on ports "), F.concat_ws(", ", "ports")
        ),
        {
            "numberOfFlows": F.col("n_flows"),
            "numberOfFlowsPerPort": F.col("perPort"),
            "myIP": F.col("myIP"),
        },
        batch_time,
    )
    # Update size is path-dependent (HogSFlow.scala:2475-2477 vs :2533):
    # the immature save (saved size < gate) adds numberOfPairsPort (total
    # distinct pairs), the mature save adds numberOfflows — so immature
    # entities cross the maturity gate at the reference's pace.
    updates = mk_update(
        rows.groupBy("myIP").agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(F.col("alienPort"), F.col("n_pairs").cast("double"))
                )
            ).alias("values"),
            F.when(F.max("s_mature"), F.sum("n_flows"))
            .otherwise(F.sum("n_pairs"))
            .alias("size"),
        ),
        "HIST07",
        "myIP",
        mode="merge_max",
    )
    return alerts, updates

# ---------------------------------------------------------------------------
# 826001015 — Vertical portscan (HIST08, gate 10)
# ---------------------------------------------------------------------------

def vertical_portscan(
    summary: DataFrame,
    cfg: SFlowConfig,
    hcfg: HistogramConfig,
    histograms: DataFrame,
    p2p_talker_ips: DataFrame,
    batch_time: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """HogSFlow.scala:2536-2643: distinct low alien-ports per (myIP,
    alienIP) on tiny flows; novel when no saved HIST08 bucket ≥ numPorts
    has weight > ε."""
    pairs = (
        _rollup(
            summary.filter(
                (F.col("alienPort").try_cast("long") < cfg.vps_max_port)
                & (F.col("myPort").try_cast("long") > 1023)
                & (F.col("numberPkts") < 5)
            ),
            ["myIP", "alienIP"],
            F.count(F.lit(1)).alias("n_flows"),
            F.countDistinct("alienPort").alias("numPorts"),
        )
        .filter(F.col("numPorts") > cfg.vps_min_ports)
        .join(broadcast(p2p_talker_ips), "myIP", "left_anti")
    )
    rows = _scored(pairs, histograms, "HIST08", hcfg.gate_hist08)
    # no saved bucket with numeric key >= numPorts and weight > ε
    novel = (
        F.size(
            F.map_filter(
                "s_values",
                lambda k, v: (k.try_cast("long") >= F.col("numPorts")) & (v > EPSILON),
            )
        )
        == 0
    )
    alerts = _alert(
        rows.filter(F.col("s_mature") & novel),
        "vertical_portscan",
        F.concat(F.lit("HZ: Vertical portscan ("), F.col("numPorts"), F.lit(" ports)")),
        {
            "numberOfFlows": F.col("n_flows"),
            "numberOfPorts": F.col("numPorts"),
            "myIP": F.col("myIP"),
            "alienIP": F.col("alienIP"),
        },
        batch_time,
        peer=F.col("alienIP"),
    )
    # several pairs can observe the same myIP in one batch: pre-combine
    # into one share histogram (deterministic batch-merge divergence)
    updates = mk_update(
        rows.groupBy("myIP", F.col("numPorts").cast("string").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("myIP")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.col("cnt").cast("double")))
            ).alias("raw"),
            F.sum("cnt").alias("size"),
        )
        .select(
            "myIP",
            "size",
            F.transform_values(F.col("raw"), lambda k, v: v / F.col("size")).alias("values"),
        ),
        "HIST08",
        "myIP",
    )
    return alerts, updates
