"""The full analytics pass — engine equivalent of ``Hogzilla.main``
(src/Hogzilla.scala:37-93) for the sFlow suite.

Dependency DAG (SURVEY.md §4 custom-work item 3; build order preserved
from the reference):

    sflow_summary ──┬─ stateless rule table (detectors/sflow.py): one
                    │  (myIP, alienIP) aggregate → host rows → ftp
                    │  servers → p2p → media / DDoS; smtp state guard;
                    │  C&C prefix join; dns/icmp/udp/abused/alien/top
                    │     ├─ p2p talker IPs ───┬─ stateful detectors
                    │     └─ media client IPs ─┘  (detectors/stateful.py)
                    ├─ ftp_talkers ─────────── atypical ports / alien profile
                    └─ os inventory

    each stateful detector: rollup at entity grain ─ left join once per
    saved family it reads (store.saved_family) ─┬─ alerts
                                         └─ HIST01-08 updates

The reference funnels every inter-detector dependency through
``collect()`` on the driver; here the only driver materialization is
the tiny talker-IP lists (broadcast side of anti-joins), and even those
stay DataFrames.

Scale notes: the cycle, not the detectors, decides what to cache.
``run_sflow_batch`` persists ``summary`` once (the reference caches
too, HogSFlow.scala:882) and hands it back on the result;
``run_and_persist`` persists the loaded ``histograms`` and releases
both after the state upsert.  Every detector returns lazy frames: the
stateless suite shuffles ``summary`` once and the stateful detectors
fan out of it; every dimension input is broadcast; each stateful
detector scores one frame, joined once to each saved family it reads,
and projects both its alerts and its state updates from that frame;
state writing is one upsert per run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hogzilla_spark.config import DEFAULT, EngineConfig
from hogzilla_spark.detectors import sflow as D
from hogzilla_spark.detectors import stateful as S
from hogzilla_spark.detectors.base import SIGNATURES, mk_alert, signatures_df
from hogzilla_spark.operators.rollup import icmp_summary, sflow_summary
from hogzilla_spark.state import store

@dataclass
class BatchResult:
    alerts: DataFrame
    state_updates: DataFrame
    inventory: DataFrame
    new_reputation: DataFrame  # (ip/prefix, list, list_type) self-learned
    # the persisted 5-tuple summary every detector reads; the caller
    # unpersists it once the sinks have run
    summary: DataFrame
    per_detector: dict[str, DataFrame] = field(default_factory=dict)

def run_sflow_batch(
    spark: SparkSession,
    sflows: DataFrame,
    mynets: DataFrame,
    reputation: DataFrame,
    histograms: DataFrame,
    cfg: EngineConfig = DEFAULT,
    batch_time: int = 0,
) -> BatchResult:
    """One full detector pass over a batch of sFlow samples."""
    my_nets = [r.prefix for r in mynets.select("prefix").collect()]
    scfg, hcfg = cfg.sflow, cfg.hist

    summary = sflow_summary(sflows, my_nets).persist()
    icmp = icmp_summary(sflows, my_nets)

    def rep_list(lst: str, typ: str) -> DataFrame:
        return reputation.filter(
            (F.col("list") == lst) & (F.col("list_type") == typ)
        ).select(F.col("ip").alias("prefix"))

    # dependency dimensions
    ftp_pairs = D.ftp_talkers(summary)
    proxy_servers = [
        r.prefix for r in rep_list("ProxyServer", "whitelist").collect()
    ]
    big_provider_nets = [
        r.prefix for r in rep_list("BigProvider", "whitelist").collect()
    ]

    # stateless suite: one rule table over one (myIP, alienIP) aggregate;
    # names in scfg.disabled drop their rules
    per, p2p_ips, media_ips = D.stateless_alerts(
        summary, icmp, my_nets, scfg, histograms,
        rep_list("CCBotNet", "blacklist"), batch_time,
    )

    # stateful suite
    at_alerts, at_updates, new_proxies = S.atypical_tcp_port(
        summary, scfg, hcfg, histograms, ftp_pairs, p2p_ips, proxy_servers,
        batch_time,
    )
    per["atypical_tcp_port"] = at_alerts
    aa_alerts, aa_updates = S.atypical_alien_tcp_port(
        summary, my_nets, scfg, hcfg, histograms, ftp_pairs, p2p_ips,
        media_ips, batch_time,
    )
    per["atypical_alien_tcp_port"] = aa_alerts
    ap_alerts, ap_updates = S.atypical_pairs(
        summary, scfg, hcfg, histograms, p2p_ips, batch_time
    )
    per["atypical_pairs"] = ap_alerts
    ad_alerts, ad_updates = S.atypical_data(
        summary, my_nets, scfg, hcfg, histograms, p2p_ips, media_ips,
        big_provider_nets, batch_time,
    )
    per["atypical_data"] = ad_alerts
    profile_updates, new_big_providers = S.alien_network_profile(
        summary, my_nets, scfg, ftp_pairs, p2p_ips
    )
    hp_alerts, hp_updates = S.horizontal_portscan(
        summary, my_nets, scfg, hcfg, histograms, p2p_ips, batch_time
    )
    per["horizontal_portscan"] = hp_alerts
    vp_alerts, vp_updates = S.vertical_portscan(
        summary, scfg, hcfg, histograms, p2p_ips, batch_time
    )
    per["vertical_portscan"] = vp_alerts

    inventory = D.os_inventory(
        summary,
        reputation.filter(F.col("list") == "OSRepo").select(
            "ip",
            F.when(F.col("list_type") == "windows", "Windows")
            .when(F.col("list_type") == "linux", "Linux")
            .when(F.col("list_type") == "android", "Android")
            .when(F.col("list_type") == "apple", "Apple")
            .when(F.col("list_type") == "freebsd", "FreeBSD")
            .alias("os"),
        ),
    )

    alerts = None
    for df in per.values():
        alerts = df if alerts is None else alerts.unionByName(df)
    state_updates = (
        at_updates.unionByName(aa_updates)
        .unionByName(ap_updates)
        .unionByName(ad_updates)
        .unionByName(profile_updates)
        .unionByName(hp_updates)
        .unionByName(vp_updates)
    )
    new_reputation = new_proxies.select(
        F.col("myIP").alias("ip"),
        F.lit("ProxyServer").alias("list"),
        F.lit("whitelist").alias("list_type"),
    ).unionByName(
        new_big_providers.select(
            F.col("prefix").alias("ip"),
            F.lit("BigProvider").alias("list"),
            F.lit("whitelist").alias("list_type"),
        )
    )
    return BatchResult(alerts, state_updates, inventory, new_reputation, summary, per)

def run_and_persist(
    spark: SparkSession,
    sflows: DataFrame,
    mynets: DataFrame,
    reputation: DataFrame,
    state_path: str,
    out_dir: str,
    cfg: EngineConfig = DEFAULT,
    batch_time: int = 0,
    flows: DataFrame | None = None,
) -> BatchResult:
    """Full lifecycle: load state → detect → append sinks → merge state.
    The engine's equivalent of one 6-hour reference cycle.  Passing the
    nDPI `flows` table adds the ML modules + HIST01 clustering sinks."""
    histograms = store.load(spark, state_path).persist()
    if flows is not None:
        result = run_full_batch(
            spark, sflows, mynets, reputation, histograms, flows, cfg, batch_time
        )
    else:
        result = run_sflow_batch(
            spark, sflows, mynets, reputation, histograms, cfg, batch_time
        )
    # AQE sizes the appended files from the alert bytes: a cycle's few
    # alerts land as one file instead of one per detector partition
    result.alerts.hint("rebalance").write.mode("append").parquet(
        f"{out_dir}/events.parquet"
    )
    # S11: persist the HIST01 server-profile clustering when present
    for name, sink in (("hist_clusters", "clusters"), ("hist_cluster_members", "cluster_members")):
        if name in result.per_detector:
            result.per_detector[name].write.mode("overwrite").parquet(
                f"{out_dir}/{sink}.parquet"
            )
    result.inventory.write.mode("overwrite").parquet(f"{out_dir}/inventory.parquet")
    # learned reputation is a set on (ip, list, list_type): append only
    # the rows earlier cycles have not learned already
    learned_path = f"{out_dir}/reputation_learned.parquet"
    learned = result.new_reputation.distinct()
    if os.path.exists(learned_path):
        learned = learned.join(
            spark.read.schema(learned.schema).parquet(learned_path),
            ["ip", "list", "list_type"],
            "left_anti",
        )
    learned.write.mode("append").parquet(learned_path)
    signatures_df(spark).write.mode("overwrite").parquet(
        f"{out_dir}/signatures.parquet"
    )
    store.upsert(spark, result.state_updates, state_path, saved=histograms)
    result.summary.unpersist()
    histograms.unpersist()
    return result

def run_full_batch(
    spark: SparkSession,
    sflows: DataFrame,
    mynets: DataFrame,
    reputation: DataFrame,
    histograms: DataFrame,
    flows: DataFrame | None = None,
    cfg: EngineConfig = DEFAULT,
    batch_time: int = 0,
    rf_numeric_cols: list[str] | None = None,
    rf_char_cols: list[str] | None = None,
) -> BatchResult:
    """Complete analytics pass — the engine's Hogzilla.main
    (src/Hogzilla.scala:39-92): Snort RF → DNS k-means → HTTP k-means →
    sFlow detectors → HIST01 server-profile clustering.

    `flows` is the nDPI-enriched table (None skips the ML modules, e.g.
    sFlow-only deployments)."""
    from hogzilla_spark.ml.kmeans import dns_kmeans, http_kmeans, histogram_clustering
    from hogzilla_spark.ml.rf import rf_train_score

    result = run_sflow_batch(
        spark, sflows, mynets, reputation, histograms, cfg, batch_time
    )
    my_nets = [r.prefix for r in mynets.select("prefix").collect()]

    if flows is not None and not flows.isEmpty():
        def kmeans_alert(members: DataFrame, sig_key: str) -> DataFrame:
            return mk_alert(
                members,
                SIGNATURES[sig_key],
                F.col("lower_ip"),
                F.col("upper_ip"),
                F.lit(SIGNATURES[sig_key].name),
                {
                    "hostname": F.col("host_server_name"),
                    "clusterLabel": F.concat(
                        F.lit("("), F.col("cluster"), F.lit(","),
                        F.col("detected_protocol"), F.lit(")"),
                    ),
                },
                batch_time,
            )

        dns_members, _ = dns_kmeans(flows, cfg.ml)
        if not dns_members.isEmpty():
            result.per_detector["dns_kmeans"] = kmeans_alert(dns_members, "dns_kmeans")
        http_members, _ = http_kmeans(flows, cfg.ml)
        if not http_members.isEmpty():
            result.per_detector["http_kmeans"] = kmeans_alert(http_members, "http_kmeans")
        if rf_numeric_cols:
            flagged = rf_train_score(
                flows, rf_numeric_cols, rf_char_cols or [], cfg.ml
            )
            result.per_detector["snort_rf"] = mk_alert(
                flagged,
                SIGNATURES["dns_kmeans"],  # id 826000001 (reference collision kept)
                F.col("lower_ip"),
                F.col("upper_ip"),
                F.lit("HZ: Suspicious flow detected by similarity with Snort alerts"),
                {"src": F.col("src_name"), "dst": F.col("dst_name")},
                batch_time,
            )
        for name in ("dns_kmeans", "http_kmeans", "snort_rf"):
            if name in result.per_detector:
                result.alerts = result.alerts.unionByName(result.per_detector[name])

    # M4/M6: server-profile clustering over the saved HIST01 state
    clusters, members = histogram_clustering(histograms, my_nets, cfg.ml)
    result.per_detector["hist_clusters"] = clusters
    result.per_detector["hist_cluster_members"] = members
    return result

def main() -> None:
    """CLI: run one full batch over the built-in fixtures (or a parquet
    dir via --sflows) and print per-signature alert counts.

    python -m hogzilla_spark.plans.batch [--out DIR] [--sflows PARQUET]

    Every count reads what the run wrote, not the result frames: those
    are lazy and the cycle has released ``summary``, so counting them
    would re-run each detector from the raw sFlow input.  Alert counts
    are one aggregate over the events with this run's --batch-time.
    """
    import argparse

    from hogzilla_spark import datagen, get_spark
    from hogzilla_spark.sources.catalog import read_table

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/hogzilla_out")
    ap.add_argument("--sflows", default=None, help="parquet path; default: fixtures")
    ap.add_argument("--flows", default=None, help="nDPI flows parquet; 'fixtures' for built-in")
    ap.add_argument("--batch-time", type=int, default=0)
    ap.add_argument(
        "--show-frames",
        action="store_true",
        help="also print the inventory/reputation frames (collects them "
        "to the driver — demo sizes only)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="hogzilla_batch")
    spark.sparkContext.setLogLevel("ERROR")
    sflows = (
        read_table(spark, args.sflows, "sflows")
        if args.sflows
        else datagen.sflows_df(spark)
    )
    flows = None
    if args.flows == "fixtures":
        flows = datagen.flows_df(spark)
    elif args.flows:
        flows = read_table(spark, args.flows, "flows")
    out = args.out
    run_and_persist(
        spark,
        sflows,
        datagen.mynets_df(spark),
        datagen.reputation_df(spark),
        state_path=f"{out}/state/histograms.parquet",
        out_dir=out,
        batch_time=args.batch_time,
        flows=flows,
    )
    counts = dict(
        spark.read.parquet(f"{out}/events.parquet")
        .filter(F.col("time") == args.batch_time)
        .groupBy("signature_id")
        .count()
        .collect()
    )
    for name, sig in sorted(SIGNATURES.items()):
        print(f"{name:28s} {counts.get(sig.sig_id, 0)} alerts")
    if flows is not None:
        for sink in ("clusters", "cluster_members"):
            n = spark.read.parquet(f"{out}/{sink}.parquet").count()
            print(f"hist_{sink:23s} {n} rows")
    print(f"state entries: {store.load(spark, f'{out}/state/histograms.parquet').count()}")
    inventory = spark.read.parquet(f"{out}/inventory.parquet")
    learned = spark.read.parquet(f"{out}/reputation_learned.parquet")
    if args.show_frames:
        print(f"inventory: {[tuple(r) for r in inventory.collect()]}")
        print(f"learned reputation (distinct, all runs): {[tuple(r) for r in learned.collect()]}")
    else:
        print(f"inventory rows: {inventory.count()}")
        print(f"learned reputation rows (distinct, all runs): {learned.count()}")
    spark.stop()

if __name__ == "__main__":
    main()
