"""sFlow stateless detector suite (SURVEY.md §2.11) as one rule table.

The reference's stateless detectors share one shape: filter the 5-tuple
summary, group by (myIP, alienIP), group by host, compare to
thresholds, emit an alert.  Here each signature is one `Rule` row and
one plan evaluates the whole table:

1. ONE ``groupBy(myIP, alienIP)`` over the persisted summary carries
   each rule's conditional aggregates (``sum(IF(flow, bytesUp, NULL))``
   …), so the summary is shuffled once, not once per detector.
2. Each pair emits one row per rule whose pair predicate holds (one
   ``inline`` generator), and ONE ``groupBy(rule, host, peer)`` rolls
   the pairs up to each rule's host key.
3. Host predicates, the order-dependent steps (ftp servers → p2p
   method 1 → method 2 → p2p hosts → media/DDoS; the C&C blacklist
   prefix semi-join; smtp's HIST01/HIST02 port-25 guard) and the
   per-rule top-k run on the small host rows; `mk_alert` renders every
   rule the same way.

Only rules not named in ``SFlowConfig.disabled`` enter the aggregate,
so a caller reading one signature pays only for its columns.  Rules
are SQL text (parsed once per expression, the scalar library's `*_sql`
build shape).  Threshold semantics (strict >, integer division, rate
multiplication) follow the reference; citations on each rule.

Divergence: the reference renders up to ``alert.maxFlowList`` flows
into each alert (HogSFlow.scala:662-696).  No sink here carries them,
so no flow list is built; media's ``connections`` keeps the capped
count that list had.
"""

from __future__ import annotations

from dataclasses import dataclass
from string import Formatter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from hogzilla_spark.config import SFlowConfig
from hogzilla_spark.detectors.base import SIGNATURES, mk_alert
from hogzilla_spark.functions.scalar import human_bytes_sql, is_my_ip_sql, sql_quote
from hogzilla_spark.operators.histogram import is_typical
from hogzilla_spark.state.store import saved_family

# every rule's `disabled` name (SFlowConfig.disabled, HogSFlow.scala:155-172)
NAMES = (
    "smtp_talkers", "p2p", "media_client", "dns_tunnel", "icmp_tunnel",
    "udp_amplifier", "abused_smtp", "alien_many_hosts", "cc_botnet", "ddos",
    "top_talkers",
)

_NO_PEER = "255.255.255.255"
_FTP = "proto = 'TCP' AND (myPort = '21' OR alienPort = '21')"
_CARRIED = ("up", "down", "pkts", "n", "srs", "srn")  # every rule's pair row

@dataclass(frozen=True)
class Rule:
    """One stateless signature; every expression is SQL text.

    `flow` reads summary (or icmp_summary) columns.  `pair` reads
    ``alien_mine`` (alien inside my_nets, a pair-key property) and this
    rule's pair aggregates as placeholders: {up} {down} {pkts} {n}
    (flows), {first}/{last} (min beginTime / max endTime), {times}
    (sorted beginTimes) and {ftp} (the pair's TCP/21 flows, whatever
    `flow` says).  `host`, `title`, `data` and `top` read the host
    rows: host, peer, bytesUp, bytesDown, numberPkts, connections
    (flows), pairs, sampleRate, listed (flows capped at
    flow_list_limit per pair) and set (distinct `pair_set` values)."""

    name: str  # `disabled` name and per-detector key
    tag: str  # unique row id (p2p has two methods)
    sig: str  # SIGNATURES key
    flow: str
    pair: str
    key: str  # host key: "myIP", "alienIP" or "pair"
    host: str
    title: str
    data: tuple[tuple[str, str], ...]
    top: tuple[str, int] | None = None  # ORDER BY top DESC, host, peer LIMIT n
    # sampleRate: mean of pair means (pair→host rules) instead of the
    # flow-weighted mean (rules that group flows straight to the host)
    pair_mean: bool = False
    pair_set: str | None = None
    source: str = "summary"  # or "icmp" (icmp_summary)

def _in(col: str, values) -> str:
    if not values:
        return "false"
    return f"{col} IN ({', '.join(sql_quote(v) for v in sorted(values))})"

def _regular(t: str) -> str:
    """DDoS inter-arrival test (HogSFlow.scala:2695-2722) over sorted
    beginTimes `t`: adjacent diffs, drop the 3 largest, mean < 60 s;
    requires n > 6."""
    diffs = (
        f"array_sort(zip_with(slice({t}, 2, 2147483646), "
        f"slice({t}, 1, 2147483646), (a, b) -> a - b))"
    )
    kept = f"slice({diffs}, 1, greatest(size({t}) - 4, 0))"
    total = f"aggregate({kept}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    return f"size({t}) > 6 AND {total} / (size({t}) - 4) < 60"

def _rules(cfg: SFlowConfig) -> list[Rule]:
    up = "CAST(bytesUp * sampleRate AS BIGINT)"
    down = "CAST(bytesDown * sampleRate AS BIGINT)"
    host_data = (
        ("hostname", "host"), ("bytesUp", up), ("bytesDown", down),
        ("numberPkts", "numberPkts"), ("connections", "connections"),
    )
    p2p_data = (
        ("numberOfPairs", "pairs"), ("myIP", "host"),
        ("bytesUp", up), ("bytesDown", down), ("numberPkts", "numberPkts"),
    )
    mid_ports = (
        "try_cast(alienPort AS INT) > 1000 AND try_cast(alienPort AS INT) < 10000"
    )
    media = cfg.media_exclude_ports
    return [
        # 826001002 (HogSFlow.scala:1028-1099); port-25 state guard is a step
        Rule(
            "smtp_talkers", "smtp_talkers", "smtp_talker",
            flow="alienPort = '25' AND numberPkts > 3",
            pair="NOT alien_mine", key="myIP",
            host=f"connections > 1 AND (bytesUp + bytesDown) * sampleRate > "
            f"{cfg.smtp_talkers_min_bytes} AND numberPkts > 20",
            title="concat('HZ: SMTP talker identified (', connections, ' flows, ', "
            f"{human_bytes_sql('bytesUp * sampleRate')}, ')')",
            data=host_data, top=("bytesUp", 100),
        ),
        # 826001008 method 1 (:1144-1216): high ports both sides, no ftp pair
        Rule(
            "p2p", "p2p_1", "p2p",
            flow="try_cast(myPort AS INT) > 10000 AND try_cast(alienPort AS INT) > 10000 "
            "AND numberPkts > 1",
            pair="NOT alien_mine AND {ftp} = 0", key="myIP",
            host=f"pairs > {cfg.p2p_min_pairs} AND size(set) > {cfg.p2p_min_ports}",
            title="'HZ: P2P communication'", data=p2p_data,
            pair_mean=True, pair_set="myPort",
        ),
        # 826001008 method 2 (:1221-1285): mid-range UDP mesh; compares RAW
        # bytes, no sampleRate (:1259)
        Rule(
            "p2p", "p2p_2", "p2p",
            flow="proto = 'UDP' AND try_cast(myPort AS INT) > 1000 "
            f"AND try_cast(myPort AS INT) < 10000 AND {mid_ports} AND numberPkts > 1",
            pair="NOT alien_mine", key="myIP",
            host=f"pairs > {cfg.p2p_min_pairs_2nd} AND size(set) > {cfg.p2p_min_ports_2nd} "
            f"AND bytesUp + bytesDown > {cfg.p2p_min_bytes_2nd}",
            title="'HZ: P2P communication'", data=p2p_data,
            pair_mean=True, pair_set="alienPort",
        ),
        # 826001011 (:1288-1363): few long download-heavy mid-port TCP
        # sessions; duration bounds exclusive
        Rule(
            "media_client", "media_client", "media_client",
            flow=f"proto = 'TCP' AND try_cast(myPort AS INT) > 1000 AND {mid_ports} "
            f"AND numberPkts > 1 AND NOT {_in('myPort', media)} "
            f"AND NOT {_in('alienPort', media)}",
            pair=f"NOT alien_mine AND {{last}} - {{first}} > {cfg.media_min_duration_s} "
            f"AND {{last}} - {{first}} < {cfg.media_max_duration_s}",
            key="myIP",
            # pairs < p2p_min_pairs_2nd: the reference's mediaClientPairsThreshold
            host=f"pairs < {cfg.p2p_min_pairs_2nd} "
            f"AND bytesUp * sampleRate < {cfg.media_max_upload_bytes} "
            f"AND bytesDown * sampleRate >= {cfg.media_min_download_bytes}",
            title="'HZ: Media streaming client'",
            data=p2p_data + (("connections", "listed"),), pair_mean=True,
        ),
        # 826001012 (:2276-2325): per-flow two-sided tunnel volume, top-30
        Rule(
            "dns_tunnel", "dns_tunnel", "dns_tunnel",
            flow="alienPort = '53' AND proto = 'UDP' "
            f"AND bytesUp * sampleRate > {cfg.dns_tunnel_min_bytes} "
            f"AND bytesDown * sampleRate > {cfg.dns_tunnel_min_bytes}",
            pair="NOT alien_mine", key="myIP", host="true",
            title="concat('HZ: DNS tunnel (', "
            f"{human_bytes_sql('(bytesUp + bytesDown) * sampleRate')}, ')')",
            data=host_data, top=("bytesUp + bytesDown", 30),
        ),
        # 826001013 (:2330-2386): big ICMP payloads per packet (integer
        # division like the reference's Long math), top-30
        Rule(
            "icmp_tunnel", "icmp_tunnel", "icmp_tunnel",
            flow=f"(bytesUp + bytesDown) div numberPkts > {cfg.icmp_tunnel_min_pkt_bytes}",
            pair="true", key="myIP",
            host=f"(bytesUp + bytesDown) * sampleRate > {cfg.icmp_tunnel_min_bytes}",
            title="'HZ: ICMP Tunnel'", data=host_data,
            top=("bytesUp + bytesDown", 30), source="icmp",
        ),
        # 826001009 (:2150-2208): reflection sources on amplification ports
        Rule(
            "udp_amplifier", "udp_amplifier", "udp_amplifier",
            flow=f"{_in('myPort', cfg.udp_amp_ports)} AND proto = 'UDP' "
            f"AND numberPkts * sampleRate > {cfg.udp_amp_min_pkts} "
            "AND bytesUp div numberPkts > 250",
            pair="NOT alien_mine", key="myIP", host="true",
            title="'HZ: UDP amplifier (DDoS)'", data=host_data,
        ),
        # 826001010 (:2215-2269): submission-port servers pushing bulk
        # mail to one alien; top-100 pairs by bytesDown
        Rule(
            "abused_smtp", "abused_smtp", "abused_smtp",
            flow="myPort IN ('465', '587') AND proto = 'TCP'",
            pair="NOT alien_mine", key="pair",
            host=f"connections > 50 AND bytesDown * sampleRate > {cfg.abused_smtp_min_bytes}",
            title="'HZ: Abused SMTP Server'", data=host_data, top=("bytesDown", 100),
        ),
        # 826001007 (:2079-2142): one alien touching > N internal hosts on
        # inbound-voted flows — the horizontal-scan alert
        Rule(
            "alien_many_hosts", "alien_many_hosts", "alien_many_hosts",
            flow="direction < 0", pair="NOT alien_mine", key="alienIP",
            host=f"pairs > {cfg.alien_min_pairs} AND host != '0.0.0.0'",
            title="concat('HZ: Horizontal scan on ports ', "
            "concat_ws(', ', array_sort(set)))",
            data=(
                ("numberOfPairs", "pairs"), ("alienIP", "host"),
                ("bytesUp", up), ("bytesDown", down), ("numberPkts", "numberPkts"),
                ("ports", "concat_ws(', ', array_sort(set))"),
            ),
            pair_mean=True, pair_set="concat_ws('/', proto, myPort)",
        ),
        # 826001017 (:2761-2827): alien matches a C&C blacklist entry by
        # STRING PREFIX (J3); pair rows, rolled up to myIP by the
        # blacklist step
        Rule(
            "cc_botnet", "cc_botnet", "cc_botnet",
            flow=f"try_cast(myPort AS BIGINT) > 1023 "
            f"AND numberPkts >= {cfg.cc_min_pkts_per_flow}",
            pair="true", key="pair", host="true",
            title="concat('HZ: C&C BotNet communication - ', host, ' <?> ', "
            "concat_ws(',', array_sort(set)))",
            data=host_data + (("aliens", "concat_ws(',', array_sort(set))"),),
        ),
        # 826001016 (:2648-2758): many short regular inbound flows,
        # download-heavy, from > N attackers
        Rule(
            "ddos", "ddos", "ddos",
            flow=f"NOT {_in('alienPort', cfg.ddos_exclude_alien_ports)} AND direction < 1",
            pair=f"NOT alien_mine AND {{n}} > {cfg.ddos_min_flows} "
            f"AND {_regular('{times}')} AND {{down}} > {{up}}",
            key="myIP", host=f"pairs > {cfg.ddos_min_pairs}",
            title="'HZ: Server under DDoS attack'",
            data=(
                ("numberOfFlows", "connections"), ("numberOfAttackers", "pairs"),
                ("myIP", "host"), ("bytesUp", up), ("bytesDown", down),
                ("numberPkts", "numberPkts"),
            ),
            pair_mean=True,
        ),
        # 826001001 (disabled in the reference, :967-1020; implemented
        # for surface completeness): hosts uploading > 20 GB
        Rule(
            "top_talkers", "top_talkers", "top_talker",
            flow="true", pair="NOT alien_mine", key="myIP",
            host=f"bytesUp * sampleRate > {cfg.top_talkers_min_bytes}",
            title="concat('HZ: Top talker identified (', "
            f"{human_bytes_sql('bytesUp * sampleRate')}, ')')",
            data=(
                ("hostname", "host"), ("bytesUp", up),
                ("numberPkts", "numberPkts"), ("connections", "connections"),
            ),
        ),
    ]

def _pair_aggs(r: Rule) -> dict[str, str]:
    """The pair aggregates a rule can read, each conditional on its
    flow flag (except "ftp", a property of the whole pair)."""
    f = f"{r.tag}_f"
    return {
        "up": f"sum(IF({f}, bytesUp, NULL))",
        "down": f"sum(IF({f}, bytesDown, NULL))",
        "pkts": f"sum(IF({f}, numberPkts, NULL))",
        "n": f"count(IF({f}, 1, NULL))",
        "srs": f"sum(IF({f}, sampleRate, NULL))",
        "srn": f"count(IF({f}, sampleRate, NULL))",
        "set": f"collect_set(IF({f}, {r.pair_set}, NULL))",
        "first": f"min(IF({f}, beginTime, NULL))",
        "last": f"max(IF({f}, endTime, NULL))",
        "times": f"sort_array(collect_list(IF({f}, beginTime, NULL)))",
        "ftp": f"count(IF({_FTP}, 1, NULL))",
    }

def _pair_rows(flows: DataFrame, rules: list[Rule], my_nets: list[str]) -> DataFrame:
    """ONE (myIP, alienIP) aggregate carrying every rule's conditional
    aggregates, then one row per (pair, rule whose pair predicate holds):
    rule, host, peer, up, down, pkts, n, srs, srn, sr, set."""
    aggs: dict[str, str] = {}
    emits = []
    for r in rules:
        avail = _pair_aggs(r)
        used = {name for _, name, _, _ in Formatter().parse(r.pair) if name}
        own = [*_CARRIED, *(["set"] if r.pair_set else []), *sorted(used)]
        cols = {k: f"{r.tag}_{k}" for k in avail}
        aggs.update({cols[k]: avail[k] for k in own})
        host = "alienIP" if r.key == "alienIP" else "myIP"
        peer = "alienIP" if r.key == "pair" else sql_quote(_NO_PEER)
        fields = [
            f"'rule', '{r.tag}'", f"'host', {host}", f"'peer', {peer}",
            *[f"'{k}', {cols[k]}" for k in _CARRIED],
            f"'sr', try_divide({cols['srs']}, {cols['srn']})",
            f"'set', {cols['set'] if r.pair_set else 'CAST(NULL AS ARRAY<STRING>)'}",
        ]
        emits.append(
            f"CASE WHEN {cols['n']} > 0 AND ({r.pair.format(**cols)}) "
            f"THEN named_struct({', '.join(fields)}) END"
        )
    # flows that no aggregate reads never reach the shuffle
    read = [f"{r.tag}_f" for r in rules]
    read += [f"({_FTP})"] if any(k.endswith("_ftp") for k in aggs) else []
    flagged = flows.selectExpr("*", *[f"({r.flow}) AS {r.tag}_f" for r in rules])
    pairs = flagged.where(" OR ".join(read)).groupBy("myIP", "alienIP").agg(
        *[F.expr(f"{v} AS {k}") for k, v in aggs.items()]
    )
    return pairs.selectExpr(
        "*", f"{is_my_ip_sql('alienIP', my_nets)} AS alien_mine"
    ).selectExpr(f"inline(filter(array({', '.join(emits)}), e -> e IS NOT NULL))")

def _host_rows(rows: DataFrame, flow_list_limit: int) -> DataFrame:
    """ONE groupBy(rule, host, peer) rolling every rule's pairs up to
    its host key."""
    return rows.groupBy("rule", "host", "peer").agg(*[F.expr(e) for e in (
        "sum(up) AS bytesUp", "sum(down) AS bytesDown", "sum(pkts) AS numberPkts",
        "sum(n) AS connections", "count(1) AS pairs", "sum(srs) AS srs",
        "sum(srn) AS srn", "avg(sr) AS sr_pair",
        f"sum(least(n, {flow_list_limit})) AS listed",
        "array_distinct(flatten(collect_list(set))) AS set",
    )])

def _decide(table: DataFrame, rules: list[Rule], ftp_ips: DataFrame | None) -> DataFrame:
    """Each host row's verdict `keep`, from one projection and one
    window over the host rows: the rule's host predicate, then the
    order-dependent suppressions — ftp servers → p2p method 1 → method
    2 (suppressing method-1 hosts) → p2p hosts → media / DDoS."""
    pair_mean = [r.tag for r in rules if r.pair_mean]
    rows = table.selectExpr(
        "*",
        f"CASE WHEN {_in('rule', pair_mean)} THEN sr_pair "
        "ELSE try_divide(srs, srn) END AS sampleRate",
    )
    passes = " ".join(f"WHEN '{r.tag}' THEN {r.host}" for r in rules)
    rows = rows.selectExpr("*", f"coalesce(CASE rule {passes} END, false) AS pass")
    if all(r.name != "p2p" for r in rules):  # no p2p hosts: nothing to suppress
        return rows.withColumnRenamed("pass", "keep")
    if ftp_ips is None:
        rows = rows.selectExpr("*", "false AS ftp")
    else:
        servers = ftp_ips.selectExpr("myIP AS host", "true AS ftp_server").distinct()
        rows = rows.join(broadcast(servers), "host", "left").selectExpr(
            "*", "ftp_server IS NOT NULL AS ftp"
        )
    def seen(tags: list[str]) -> str:  # a row of this host passes one of `tags`
        hit = f"pass AND NOT ftp AND {_in('rule', tags)}"
        return f"coalesce(max({hit}) OVER (PARTITION BY host), false)"

    return rows.selectExpr(
        "*", f"{seen(['p2p_1'])} AS m1", f"{seen(['p2p_1', 'p2p_2'])} AS p2p"
    ).selectExpr(
        "*",
        "pass AND CASE rule WHEN 'p2p_1' THEN NOT ftp WHEN 'p2p_2' THEN NOT ftp AND NOT m1 "
        "WHEN 'media_client' THEN NOT p2p WHEN 'ddos' THEN NOT p2p ELSE true END AS keep",
    )

def _blacklisted(pairs: DataFrame, blacklist: DataFrame) -> DataFrame:
    """C&C (J3): the rule's (myIP, alienIP) rows whose alien matches a
    blacklist prefix — a broadcast prefix semi-join, the big side never
    shuffles — rolled up to myIP."""
    hits = pairs.join(
        broadcast(blacklist.select("prefix")), F.expr("startswith(peer, prefix)"), "left_semi"
    )
    return hits.groupBy("host").agg(*[F.expr(e) for e in (
        "sum(bytesUp) AS bytesUp", "sum(bytesDown) AS bytesDown",
        "sum(numberPkts) AS numberPkts", "sum(connections) AS connections",
        "count(1) AS pairs", "try_divide(sum(srs), sum(srn)) AS sampleRate",
        "sum(listed) AS listed", "collect_set(peer) AS set",
    )]).withColumn("peer", F.lit(_NO_PEER))

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

def _typical_port(histograms: DataFrame, family: str, port: str) -> DataFrame:
    """IPs whose learned `family` histogram has weight > ε on `port`
    (HogHBaseHistogram.getIPListHIST01, :140-168; isTypicalEvent)."""
    return saved_family(histograms, family, "myIP", "s_").filter(
        is_typical("s_values", port)
    ).select("myIP")

def ftp_servers(histograms: DataFrame) -> DataFrame:
    """S8: IPs whose learned HIST01 has weight on port 21."""
    return _typical_port(histograms, "HIST01", "21")

# --- the suite --------------------------------------------------------------

def stateless_alerts(
    summary: DataFrame,
    icmp: DataFrame | None,
    my_nets: list[str],
    cfg: SFlowConfig,
    histograms: DataFrame | None,
    blacklist: DataFrame | None,
    batch_time: int = 0,
) -> tuple[dict[str, DataFrame], DataFrame, DataFrame]:
    """Every enabled stateless signature over the persisted `summary`
    and `icmp` (icmp_summary; None: no ICMP rule).  `histograms` is the
    saved state (None: nothing learned, so no ftp-server or SMTP-server
    suppression); `blacklist` is DataFrame[prefix] of C&C prefixes
    (None: no C&C rule).

    Returns (alerts per detector name, p2p talker IPs, media client
    IPs); the two IP frames (DataFrame[myIP]) feed the stateful
    suite's suppressions."""
    off = set(cfg.disabled)
    off |= {"icmp_tunnel"} if icmp is None else set()
    off |= {"cc_botnet"} if blacklist is None else set()
    rules = [r for r in _rules(cfg) if r.name not in off]
    excl = sorted(cfg.excluded_ips)
    flows = {
        "summary": summary.where(f"NOT {_in('myIP', excl)} AND NOT {_in('alienIP', excl)}"),
        "icmp": icmp,
    }
    ftp_ips = ftp_servers(histograms) if histograms is not None else None
    tables = {}
    for source in ("summary", "icmp"):
        part = [r for r in rules if r.source == source]
        if part:
            pairs = _pair_rows(flows[source], part, my_nets)
            tables[source] = _decide(_host_rows(pairs, cfg.flow_list_limit), part, ftp_ips)

    def kept(tags: tuple[str, ...]) -> DataFrame:
        """DataFrame[myIP] of the summary hosts these rules alert on."""
        if "summary" not in tables:
            return summary.sparkSession.createDataFrame([], "myIP string")
        return tables["summary"].where(f"keep AND {_in('rule', tags)}").selectExpr(
            "host AS myIP"
        ).distinct()

    per: dict[str, DataFrame] = {}
    for r in rules:
        h = tables[r.source].where(f"keep AND rule = '{r.tag}'")
        if r.name == "cc_botnet":
            h = _blacklisted(h, blacklist)
        # smtp state guard: HIST01/HIST02 of myIP must NOT have port-25
        # weight > ε — a broadcast state join, not a per-row HBase Get
        if r.name == "smtp_talkers" and histograms is not None:
            for fam in ("HIST01", "HIST02"):
                known = _typical_port(histograms, fam, "25").withColumnRenamed("myIP", "host")
                h = h.join(broadcast(known), "host", "left_anti")
        if r.top is not None:
            order, limit = r.top
            h = h.orderBy(F.expr(order).desc(), "host", "peer").limit(limit)
        alerts = mk_alert(
            h, SIGNATURES[r.sig], F.col("host"), F.col("peer"), F.expr(r.title),
            {k: F.expr(v) for k, v in r.data}, batch_time,
        )
        per[r.name] = per[r.name].unionByName(alerts) if r.name in per else alerts
    return per, kept(("p2p_1", "p2p_2")), kept(("media_client",))

def os_inventory(summary: DataFrame, os_repos: DataFrame) -> DataFrame:
    """OS fingerprinting via contacted OS-update servers (J5+A12,
    HogSFlow.scala:2829-2877).  os_repos: DataFrame[ip, os].  Returns the
    inventory rows (ip, os) — one per (myIP, OS) like the reference's
    per-member saveInventory."""
    repos = broadcast(os_repos.withColumnRenamed("ip", "alienIP"))
    return summary.join(repos, "alienIP").select(F.col("myIP").alias("ip"), "os").distinct()
