"""Stateful sFlow detectors (SURVEY.md §2.9 H9/H10, §2.11) — the
histogram-state analytics.

Contract per detector: ``fn(...) -> (alerts_df, state_updates_df[, extra])``
where state updates follow state.store (hist_name, size, values, labels,
mode).  Scoring always reads the SAVED state (pre-merge), exactly like
the reference's get-score-merge sequence; the merge itself happens once,
batched, in state.store.apply_updates.

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
from hogzilla_spark.operators.histogram import EPSILON
from hogzilla_spark.state.store import EMPTY_MAP_D, mk_update

def _family(histograms: DataFrame, family: str) -> DataFrame:
    """Saved state of one histogram family keyed by entity.

    Joins against this side carry NO broadcast() hint on purpose: state
    grows with entity count (per-IP maps), so at 100× scale a forced
    broadcast of a HIST family can exceed executor broadcast memory.
    The state side comes off parquet with size stats, so the planner
    (and AQE at runtime) picks broadcast only while it actually fits
    `autoBroadcastJoinThreshold`; beyond that the equi-join shuffles on
    the entity key, which is the shape we want."""
    return histograms.filter(
        F.col("hist_name").startswith(family + "-")
        # "HIST02-" must not match "HIST02.1-..." names
    ).select(
        F.expr(f"substring(hist_name, {len(family) + 2})").alias("entity"),
        F.col("size").alias("s_size"),
        F.col("values").alias("s_values"),
    )

def _saved_get(values: Column, key: Column) -> Column:
    return F.coalesce(F.element_at(values, key), F.lit(0.0))

def _scalar(df: DataFrame, expr_map: dict[str, Column]) -> DataFrame:
    """1-row aggregate for the reference's driver-side .stats() values."""
    return df.agg(*[v.alias(k) for k, v in expr_map.items()])

# ---------------------------------------------------------------------------
# 826001003 — Atypical TCP port used (HIST01, gate 100)
# ---------------------------------------------------------------------------

def atypical_tcp_port(
    summary: DataFrame,
    my_nets: list[str],
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
    totals = flows.groupBy("myIP").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("bytesUp").alias("bytesUp"),
        F.sum("bytesDown").alias("bytesDown"),
        F.sum("numberPkts").alias("numberPkts"),
        F.avg("sampleRate").alias("sampleRate"),
    )
    is_proxy_ip = F.col("myIP").isin(list(proxy_servers)) if proxy_servers else F.lit(False)
    serves = (F.col("a_p") > 3) & (F.col("a_p") / F.col("f_p") > 0.2)
    proxy_detected = serves & (F.col("l_p") > 2) & (F.col("a_p") / F.col("l_p") > 0.5)
    keep = F.when(is_proxy_ip, F.col("inbound") == 1).otherwise(
        serves & ~proxy_detected
    )
    kept = port_stats.filter(keep)
    new_proxies = port_stats.filter(~is_proxy_ip & proxy_detected).select("myIP").distinct()

    saved = _family(histograms, "HIST01")
    port_rows = (
        kept.join(totals, "myIP")
        .select(
            "myIP",
            F.col("myPort").alias("port"),
            (F.col("f_p") / F.col("n_flows")).alias("weight"),
        )
        .join(saved.withColumnRenamed("entity", "myIP"), "myIP", "left")
    )
    mature = F.coalesce(F.col("s_size"), F.lit(0)) >= hcfg.gate_hist01
    atypical_rows = port_rows.filter(
        mature
        & (F.col("weight") > EPSILON)
        & (_saved_get(F.col("s_values"), F.col("port")) <= EPSILON)
        & ~F.col("port").isin(sorted(cfg.atypical_ports_exclude))
        & (
            (_saved_get(F.col("s_values"), F.lit("21")) <= EPSILON)
            | (F.col("port").try_cast("long") < 1024)
        )
    )
    alert_base = (
        atypical_rows.groupBy("myIP")
        .agg(F.array_sort(F.collect_list("port")).alias("ports"))
        .join(totals, "myIP")
    )
    alerts = mk_alert(
        alert_base,
        SIGNATURES["atypical_tcp_port"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.concat(
            F.lit("HZ: Atypical TCP port used ("),
            F.concat_ws(",", "ports"),
            F.lit(")"),
        ),
        {
            "myIP": F.col("myIP"),
            "tcpport": F.concat_ws(",", "ports"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
        },
        batch_time,
    )
    new_hists = (
        kept.groupBy("myIP")
        .agg(F.collect_list(F.struct(F.col("myPort"), F.col("f_p"))).alias("entries"))
        .join(totals, "myIP", "right")
        .select(
            "myIP",
            F.col("n_flows").alias("size"),
            F.coalesce(
                F.map_from_entries(
                    F.transform(
                        "entries",
                        lambda e: F.struct(
                            e["myPort"].alias("key"),
                            (e["f_p"] / F.col("n_flows")).alias("value"),
                        ),
                    )
                ),
                EMPTY_MAP_D(),
            ).alias("values"),
        )
    )
    return alerts, mk_update(new_hists, "HIST01", "myIP"), new_proxies

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
    HIST02.1 (typical), and the per-alien histogram HIST01/HIST05 (J8)."""
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
    totals = flows.groupBy("myIP").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("bytesUp").alias("bytesUp"),
        F.sum("bytesDown").alias("bytesDown"),
        F.sum("numberPkts").alias("numberPkts"),
        F.avg("sampleRate").alias("sampleRate"),
    )
    # ports aliens use as CLIENT ports: (myIP,myPort) groups with >1 flow
    client_ports = (
        flows.groupBy("myIP", "myPort")
        .agg(F.count(F.lit(1)).alias("q"), F.collect_set("alienPort").alias("aps"))
        .filter(F.col("q") > 1)
        .select("myIP", F.explode("aps").alias("port"))
        .distinct()
    )
    port_rows = (
        flows.groupBy("myIP", F.col("alienPort").alias("port"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(client_ports, ["myIP", "port"], "left_anti")
        .join(totals.select("myIP", "n_flows"), "myIP")
        .select("myIP", "port", (F.col("cnt") / F.col("n_flows")).alias("weight"))
    )
    saved02 = _family(histograms, "HIST02").withColumnRenamed("entity", "myIP")
    saved021 = (
        _family(histograms, "HIST02.1")
        .withColumnRenamed("entity", "myIP")
        .withColumnsRenamed({"s_size": "p_size", "s_values": "p_values"})
    )
    scored = (
        port_rows.join(saved02, "myIP", "left")
        .join(saved021, "myIP", "left")
        .filter(
            (F.coalesce(F.col("s_size"), F.lit(0)) >= hcfg.gate_hist02)
            & (F.coalesce(F.col("p_size"), F.lit(0)) > 0)
            & (F.col("weight") > EPSILON)
            & (_saved_get(F.col("s_values"), F.col("port")) <= EPSILON)  # atypical
            & (_saved_get(F.col("p_values"), F.col("port")) > EPSILON)  # typical in prev
        )
    )
    # J8 cross-check: is the port atypical for the alien side too?
    flow_aliens = flows.select("myIP", F.col("alienPort").alias("port"), "alienIP")
    alien_key = F.when(
        is_my_ip("alienIP", my_nets), F.concat(F.lit("HIST01-"), F.col("alienIP"))
    ).otherwise(F.concat(F.lit("HIST05-"), ip_significant_network("alienIP")))
    checked = (
        scored.select("myIP", "port")
        .join(flow_aliens, ["myIP", "port"])
        .withColumn("a_key", alien_key)
        .join(
            histograms.select(
                F.col("hist_name").alias("a_key"), F.col("values").alias("a_values")
            ),
            "a_key",
            "left",
        )
        .withColumn(
            "alien_atypical",
            _saved_get(F.coalesce(F.col("a_values"), EMPTY_MAP_D()), F.col("port")) <= EPSILON,
        )
        .groupBy("myIP", "port")
        .agg(F.max(F.col("alien_atypical").cast("int")).alias("any_atypical"))
        .filter(F.col("any_atypical") == 1)
    )
    alert_base = (
        checked.groupBy("myIP")
        .agg(F.array_sort(F.collect_list("port")).alias("ports"))
        .join(totals, "myIP")
    )
    alerts = mk_alert(
        alert_base,
        SIGNATURES["atypical_alien_tcp_port"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.concat(
            F.lit("HZ: Atypical Alien TCP port used ("),
            F.concat_ws(",", "ports"),
            F.lit(")"),
        ),
        {
            "myIP": F.col("myIP"),
            "tcpport": F.concat_ws(",", "ports"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
        },
        batch_time,
    )
    # state transitions (reference :1638-1723):
    #   immature → HIST02 merge (batch);  mature → HIST02 merge (prev
    #   snapshot) + HIST02.1 replace (batch)
    new_hists = (
        port_rows.groupBy("myIP")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("port"), F.col("weight")))
            ).alias("values")
        )
        .join(totals.select("myIP", F.col("n_flows").alias("size")), "myIP", "right")
        .select("myIP", "size", F.coalesce("values", EMPTY_MAP_D()).alias("values"))
    )
    with_gate = new_hists.join(saved02, "myIP", "left").join(saved021, "myIP", "left")
    immature = with_gate.filter(F.coalesce(F.col("s_size"), F.lit(0)) < hcfg.gate_hist02)
    mature = with_gate.filter(F.coalesce(F.col("s_size"), F.lit(0)) >= hcfg.gate_hist02)
    upd_imm = mk_update(immature.select("myIP", "size", "values"), "HIST02", "myIP")
    upd_mature_02 = mk_update(
        mature.filter(F.coalesce(F.col("p_size"), F.lit(0)) > 0).select(
            "myIP", F.col("p_size").alias("size"), F.col("p_values").alias("values")
        ),
        "HIST02",
        "myIP",
    )
    upd_snapshot = mk_update(
        mature.select("myIP", "size", "values"), "HIST02.1", "myIP", mode="replace"
    )
    return alerts, upd_imm.unionByName(upd_mature_02).unionByName(upd_snapshot)

# ---------------------------------------------------------------------------
# 826001005 / 826001006 — Atypical pairs / amount of data (HIST03/HIST04)
# ---------------------------------------------------------------------------

def _single_bucket_detector(
    rolled: DataFrame,
    family: str,
    gate: int,
    bucket: Column,
    sig_key: str,
    title: Column,
    data: dict[str, Column],
    histograms: DataFrame,
    batch_time: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared HIST03/HIST04 shape (HogSFlow.scala:1737-1936): one
    log-binned observation per entity per batch; alert when the bucket is
    new AND the saved histogram is concentrated (<5 buckets > 0.001)."""
    saved = _family(histograms, family).withColumnRenamed("entity", "myIP")
    rows = rolled.withColumn("bucket", bucket.cast("long").cast("string")).join(
        saved, "myIP", "left"
    )
    mature = F.coalesce(F.col("s_size"), F.lit(0)) >= gate
    concentrated = (
        F.size(F.map_filter(F.coalesce(F.col("s_values"), EMPTY_MAP_D()), lambda k, v: v > 0.001))
        < 5
    )
    is_atypical = _saved_get(F.coalesce(F.col("s_values"), EMPTY_MAP_D()), F.col("bucket")) <= EPSILON
    alerts = mk_alert(
        rows.filter(mature & is_atypical & concentrated),
        SIGNATURES[sig_key],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        title,
        data,
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
        summary.filter(F.col("numberPkts") > 1)
        .groupBy("myIP", "alienIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.avg("sampleRate").alias("sampleRate"),
        )
        .groupBy("myIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.count(F.lit(1)).alias("pairs"),
            F.avg("sampleRate").alias("sampleRate"),
        )
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
        {
            "numberOfPairs": F.col("pairs"),
            "myIP": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
        },
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
        summary.filter(
            (F.col("direction") > -1)
            & (F.col("myPort").try_cast("long") > 1024)
            & (F.col("myPort") != "8080")
            & ~is_my_ip("alienIP", my_nets)
            & ~is_my_ip("alienIP", big_provider_nets)
        )
        .groupBy("myIP", "alienIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.avg("sampleRate").alias("sampleRate"),
        )
        .groupBy("myIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.count(F.lit(1)).alias("pairs"),
            F.avg("sampleRate").alias("sampleRate"),
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
        {
            "numberOfPairs": F.col("pairs"),
            "myIP": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
        },
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
    hcfg: HistogramConfig,
    histograms: DataFrame,
    ftp_talker_pairs: DataFrame,
    p2p_talker_ips: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """HogSFlow.scala:1947-2069: per-alien-/24 port (HIST05) and
    log-bytes (HIST06) histograms, gated on >4 distinct internal pairs;
    auto-whitelists networks serving >1 GB flows.  Returns
    (state_updates, new_big_provider_nets)."""
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

    port_hist = (
        flows.join(nets.select("alienNet", "n_flows"), "alienNet")
        .groupBy("alienNet", "alienPort")
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
        flows.filter(F.col("myPort").try_cast("long") > 1023)
        .join(nets.select("alienNet", "n_flows"), "alienNet")
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
    per_pair_port = flows.groupBy("myIP", "alienIP", "alienPort").agg(
        F.sum("bytesUp").alias("bytesUp"),
        F.sum("bytesDown").alias("bytesDown"),
        F.sum("numberPkts").alias("numberPkts"),
        F.count(F.lit(1)).alias("n_flows"),
        F.avg("sampleRate").alias("sampleRate"),
    )
    per_port = per_pair_port.groupBy("myIP", "alienPort").agg(
        F.sum("bytesUp").alias("bytesUp"),
        F.sum("bytesDown").alias("bytesDown"),
        F.sum("numberPkts").alias("numberPkts"),
        F.sum("n_flows").alias("n_flows"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg("sampleRate").alias("sampleRate"),
    )
    hot = per_port.filter(F.col("n_pairs") > cfg.hps_min_flows).join(
        broadcast(p2p_talker_ips), "myIP", "left_anti"
    )
    saved = _family(histograms, "HIST07").withColumnRenamed("entity", "myIP")
    rows = hot.join(saved, "myIP", "left")
    mature = F.coalesce(F.col("s_size"), F.lit(0)) >= hcfg.gate_hist07
    port_atypical = (
        _saved_get(F.coalesce(F.col("s_values"), EMPTY_MAP_D()), F.col("alienPort")).cast("long")
        < F.col("n_pairs")
    )
    scored = rows.filter(mature & port_atypical)
    alert_base = scored.groupBy("myIP").agg(
        F.sum("bytesUp").alias("bytesUp"),
        F.sum("bytesDown").alias("bytesDown"),
        F.sum("numberPkts").alias("numberPkts"),
        F.sum("n_flows").alias("n_flows"),
        F.sum("n_pairs").alias("n_pairs"),
        F.avg("sampleRate").alias("sampleRate"),
        F.concat_ws(
            ", ",
            F.array_sort(
                F.collect_list(F.concat(F.col("alienPort"), F.lit("="), F.col("n_pairs")))
            ),
        ).alias("perPort"),
        F.array_sort(F.collect_list("alienPort")).alias("ports"),
    )
    alerts = mk_alert(
        alert_base,
        SIGNATURES["horizontal_portscan"],
        F.col("myIP"),
        F.lit("255.255.255.255"),
        F.concat(
            F.lit("HZ: Horizontal scan on ports "), F.concat_ws(", ", "ports")
        ),
        {
            "numberOfFlows": F.col("n_flows"),
            "numberOfFlowsPerPort": F.col("perPort"),
            "myIP": F.col("myIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
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
            F.when(
                F.max(F.coalesce(F.col("s_size"), F.lit(0))) < hcfg.gate_hist07,
                F.sum("n_pairs"),
            )
            .otherwise(F.sum("n_flows"))
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
        summary.filter(
            (F.col("alienPort").try_cast("long") < cfg.vps_max_port)
            & (F.col("myPort").try_cast("long") > 1023)
            & (F.col("numberPkts") < 5)
        )
        .groupBy("myIP", "alienIP")
        .agg(
            F.sum("bytesUp").alias("bytesUp"),
            F.sum("bytesDown").alias("bytesDown"),
            F.sum("numberPkts").alias("numberPkts"),
            F.count(F.lit(1)).alias("n_flows"),
            F.countDistinct("alienPort").alias("numPorts"),
            F.avg("sampleRate").alias("sampleRate"),
        )
        .filter(F.col("numPorts") > cfg.vps_min_ports)
        .join(broadcast(p2p_talker_ips), "myIP", "left_anti")
    )
    saved = _family(histograms, "HIST08").withColumnRenamed("entity", "myIP")
    rows = pairs.join(saved, "myIP", "left")
    mature = F.coalesce(F.col("s_size"), F.lit(0)) >= hcfg.gate_hist08
    # no saved bucket with numeric key >= numPorts and weight > ε
    novel = (
        F.size(
            F.map_filter(
                F.coalesce(F.col("s_values"), EMPTY_MAP_D()),
                lambda k, v: (k.try_cast("long") >= F.col("numPorts")) & (v > EPSILON),
            )
        )
        == 0
    )
    alerts = mk_alert(
        rows.filter(mature & novel),
        SIGNATURES["vertical_portscan"],
        F.col("myIP"),
        F.col("alienIP"),
        F.concat(F.lit("HZ: Vertical portscan ("), F.col("numPorts"), F.lit(" ports)")),
        {
            "numberOfFlows": F.col("n_flows"),
            "numberOfPorts": F.col("numPorts"),
            "myIP": F.col("myIP"),
            "alienIP": F.col("alienIP"),
            "bytesUp": (F.col("bytesUp") * F.col("sampleRate")).cast("long"),
            "bytesDown": (F.col("bytesDown") * F.col("sampleRate")).cast("long"),
            "numberPkts": F.col("numberPkts"),
        },
        batch_time,
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
