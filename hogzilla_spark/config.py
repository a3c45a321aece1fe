"""Engine configuration — detector thresholds and operating knobs.

Defaults reproduce the reference's config surface
(``/root/reference/src/org/hogzilla/sflow/HogSFlow.scala:116-189`` and
``/root/reference/src/org/hogzilla/auth/HogAuth.scala:73-85``, defaults
mirrored in ``scripts/conf/sflow.conf``).  Values are plain Python so a
deployment can load/override them from YAML/JSON without new deps.
"""

from __future__ import annotations

from dataclasses import dataclass, field

@dataclass(frozen=True)
class SFlowConfig:
    """Thresholds for the sFlow detector suite (HogSFlow.scala:118-151)."""

    # alien accessing too many internal hosts (sig 826001007)
    alien_min_pairs: int = 20
    # SMTP talkers (sig 826001002)
    smtp_talkers_min_bytes: int = 20 * 1024 * 1024
    # atypical TCP port (sig 826001003)
    atypical_ports_exclude: frozenset[str] = frozenset(
        {"80", "443", "587", "465", "993", "995"}
    )
    atypical_tcp_min_pkts: int = 2
    # atypical pairs (sig 826001005)
    atypical_pairs_min: int = 300
    # atypical amount of data (sig 826001006)
    atypical_data_min_bytes: int = 5_737_418_240
    # atypical alien port (sig 826001004)
    atypical_alien_tcp_min_pkts: int = 2
    # P2P (sig 826001008)
    p2p_min_pairs: int = 5
    p2p_min_ports: int = 4
    p2p_min_bytes_2nd: int = 10_000_000
    p2p_min_pairs_2nd: int = 10
    p2p_min_ports_2nd: int = 10
    # abused SMTP server (sig 826001010)
    abused_smtp_min_bytes: int = 50_000_000
    # media streaming client (sig 826001011)
    media_min_duration_s: int = 300
    media_max_duration_s: int = 7200
    media_max_upload_bytes: int = 10_000_000
    media_min_download_bytes: int = 1_000_000
    media_exclude_ports: frozenset[str] = frozenset({"1194"})
    # DNS tunnel (sig 826001012)
    dns_tunnel_min_bytes: int = 25_000_000
    # big-provider auto-whitelist
    big_provider_min_bytes: int = 1 * 1024 * 1024 * 1024
    # ICMP tunnel (sig 826001013)
    icmp_tunnel_min_pkt_bytes: int = 200
    icmp_tunnel_min_bytes: int = 100_000_000
    # horizontal portscan (sig 826001014)
    hps_min_flows: int = 100
    hps_exclude_alien_ports: frozenset[str] = frozenset({"80", "443", "53"})
    hps_exclude_my_ports: frozenset[str] = frozenset({"123"})
    # vertical portscan (sig 826001015)
    vps_min_ports: int = 3
    vps_max_port: int = 1024
    # DDoS (sig 826001016)
    ddos_min_flows: int = 50
    ddos_min_pairs: int = 20
    ddos_exclude_alien_ports: frozenset[str] = frozenset(
        {"80", "443", "587", "465", "993", "995"}
    )
    # C&C botnet (sig 826001017)
    cc_min_pkts_per_flow: int = 20
    # UDP amplifier (sig 826001009)
    udp_amp_min_pkts: int = 2000
    udp_amp_ports: frozenset[str] = frozenset({"19", "53", "123", "1900"})
    # alert rendering
    flow_list_limit: int = 1000
    # top-talker (disabled in the reference; kept for parity)
    top_talkers_min_bytes: int = 20 * 1024 * 1024 * 1024
    # per-detector excluded IPs (general.excludeIPs ++ <detector>.excludeIPs)
    excluded_ips: frozenset[str] = frozenset()
    # <detector>.disabled flags (HogSFlow.scala:155-172): a disabled
    # detector is skipped entirely by the batch DAG (the reference's
    # disabled=1 "train-only" mode maps to state-only detectors keeping
    # their updates; stateless ones simply skip)
    disabled: frozenset[str] = frozenset()

@dataclass(frozen=True)
class AuthConfig:
    """Auth-profiling thresholds (HogAuth.scala:76-85)."""

    location_radius_km: int = 300
    location_excluded_cities: frozenset[str] = frozenset({"Campinas"})
    location_domain_whitelist: frozenset[str] = frozenset({"google.com", "gmail.com"})
    ua_domain_whitelist: frozenset[str] = frozenset({"google.com", "gmail.com"})
    system_domain_whitelist: frozenset[str] = frozenset({"google.com", "gmail.com"})
    # per-branch excluded-city guards (HogAuth.scala:383-384 UA, :401-402
    # service) — empty in the reference's defaults, configurable here for
    # full config-surface parity
    ua_excluded_cities: frozenset[str] = frozenset()
    system_excluded_cities: frozenset[str] = frozenset()

@dataclass(frozen=True)
class HistogramConfig:
    """Histogram learn gates (HogSFlow): below these saved sizes a
    histogram only learns, never scores.  ε and the merge decay are
    fixed in operators/histogram (Histograms.scala:16,108-110)."""

    gate_hist01: int = 100
    gate_hist02: int = 1000
    gate_hist03: int = 10
    gate_hist04: int = 30
    gate_hist07: int = 100
    gate_hist08: int = 10
    gate_auth: int = 10

@dataclass(frozen=True)
class MLConfig:
    """ML module constants (HogDNS/HogHTTP/HogSFlowHistograms/HogSnort)."""

    dns_k: int = 9
    http_k: int = 32
    hist_k: int = 10
    # taint selection: cluster-label groups smaller than pct with dirty-rate >= rate
    taint_max_group_pct: float = 0.05
    taint_min_dirty_rate: float = 0.001
    rf_num_trees: int = 100
    rf_max_depth: int = 30
    rf_max_bins: int = 500
    seed: int = 42  # reference leaves seeds unpinned; we pin for determinism

@dataclass(frozen=True)
class EngineConfig:
    sflow: SFlowConfig = field(default_factory=SFlowConfig)
    auth: AuthConfig = field(default_factory=AuthConfig)
    hist: HistogramConfig = field(default_factory=HistogramConfig)
    ml: MLConfig = field(default_factory=MLConfig)

DEFAULT = EngineConfig()
