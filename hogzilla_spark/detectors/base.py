"""Alert/signature infrastructure (HogEvent/HogSignature equivalents).

The reference emits alerts via per-row HBase puts inside foreach
(HogEvent.scala:61-82).  The engine builds alert DataFrames with a
uniform schema and appends them to the events sink in one batched
write — the 100 TB-safe shape.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession

@dataclass(frozen=True)
class Signature:
    """HogSignature(class, name, priority, revision, id, group)
    (HogSignature.scala:30-52)."""

    sig_class: int
    name: str
    priority: int
    revision: int
    sig_id: int
    group_id: int

# The sFlow detector catalog (HogSFlow.scala:61-77); DNS/HTTP/hist/auth
# signatures live with their modules.
SIGNATURES: dict[str, Signature] = {
    "top_talker": Signature(3, "HZ: Top talker identified", 2, 1, 826001001, 826),
    "smtp_talker": Signature(3, "HZ: SMTP talker identified", 1, 1, 826001002, 826),
    "atypical_tcp_port": Signature(3, "HZ: Atypical TCP port used", 2, 1, 826001003, 826),
    "atypical_alien_tcp_port": Signature(3, "HZ: Atypical alien TCP port used", 2, 1, 826001004, 826),
    "atypical_pairs": Signature(3, "HZ: Atypical number of pairs in the period", 2, 1, 826001005, 826),
    "atypical_data": Signature(3, "HZ: Atypical amount of data transferred", 2, 1, 826001006, 826),
    "alien_many_hosts": Signature(3, "HZ: Alien accessing too much hosts", 3, 1, 826001007, 826),
    "p2p": Signature(3, "HZ: P2P communication", 3, 1, 826001008, 826),
    "udp_amplifier": Signature(3, "HZ: UDP amplifier (DDoS)", 1, 1, 826001009, 826),
    "abused_smtp": Signature(3, "HZ: Abused SMTP Server", 2, 1, 826001010, 826),
    "media_client": Signature(3, "HZ: Media streaming client", 3, 1, 826001011, 826),
    "dns_tunnel": Signature(3, "HZ: DNS Tunnel", 1, 1, 826001012, 826),
    "icmp_tunnel": Signature(3, "HZ: ICMP Tunnel", 1, 1, 826001013, 826),
    "horizontal_portscan": Signature(3, "HZ: Horizontal portscan", 2, 1, 826001014, 826),
    "vertical_portscan": Signature(3, "HZ: Vertical portscan", 2, 1, 826001015, 826),
    "ddos": Signature(3, "HZ: Server under DDoS attack", 1, 1, 826001016, 826),
    "cc_botnet": Signature(3, "HZ: C&C BotNet communication", 1, 1, 826001017, 826),
    # DNS/HTTP k-means (HogDNS.scala:53, HogHTTP.scala:50; the 826000001 id
    # collides with the Snort-RF module in the reference — kept, documented)
    "dns_kmeans": Signature(3, "HZ: Suspicious DNS flow identified", 3, 1, 826000001, 826),
    "http_kmeans": Signature(3, "HZ: Suspicious HTTP flow identified", 3, 1, 826000101, 826),
    # auth (HogAuth.scala:68-71)
    "auth_location": Signature(3, "HZ/Auth: Atypical access location", 2, 1, 826001201, 826),
    "auth_useragent": Signature(3, "HZ/Auth: Atypical access user-agent", 2, 1, 826001202, 826),
    "auth_service": Signature(3, "HZ/Auth: Atypical access service or system", 2, 1, 826001203, 826),
    "auth_combined": Signature(3, "HZ/Auth: Atypical user access", 2, 1, 826001204, 826),
}

def signatures_df(spark: SparkSession) -> DataFrame:
    """S14: the idempotent signature catalog as a DataFrame (engine
    equivalent of HogSignature.saveHBase upserts)."""
    rows = [
        (s.sig_id, s.sig_class, s.name, s.priority, s.revision, s.group_id)
        for s in SIGNATURES.values()
    ]
    return spark.createDataFrame(
        rows,
        "signature_id long, signature_class int, signature_name string, "
        "signature_priority int, signature_revision int, signature_group_id long",
    )

def mk_alert(
    df: DataFrame,
    sig: Signature,
    lower_ip: Column,
    upper_ip: Column,
    title: Column,
    data: dict[str, Column],
    batch_time: int = 0,
) -> DataFrame:
    """Uniform alert schema (S9 sink rows, HogEvent.scala:61-82).

    `data` carries the detector's event.data key/values as a map column;
    `batch_time` is injected (not wall clock) so outputs are
    deterministic and golden-testable.

    Build shape (r12): the caller's Columns are bound to stable names
    in one aliased select, then the whole alert projection is parsed
    from SQL text in one selectExpr built from the scalar library's
    `*_sql` builders.  A fully-Column build costs ~1,700 py4j round
    trips per call site (~0.4 s of build time each, ×19 call
    sites across the registry).  Row goldens in tests/test_functions.py
    and the detector oracles pin the values.
    """
    from hogzilla_spark.functions.scalar import (
        human_bytes_sql,
        ip_to_bytes_sql,
        sql_quote,
    )

    binds = [
        lower_ip.alias("__mk_lo"),
        upper_ip.alias("__mk_hi"),
        title.alias("__mk_title"),
    ]
    map_args: list[str] = []
    # note text follows the reference's populate* template
    # (HogSFlow.scala:233-452): fixed preamble + behaviour + field lines,
    # byte-valued fields human-formatted
    note_parts: list[str] = [
        sql_quote(
            "This IP was detected by Hogzilla performing an abnormal "
            "activity. In what follows, you can see more information.\n"
            "Abnormal behaviour: "
        ),
        "`__mk_title`",
    ]
    for i, (k, v) in enumerate(data.items()):
        s_name = f"__mk_s{i}"
        binds.append(v.cast("string").alias(s_name))
        map_args += [sql_quote(k), f"`{s_name}`"]
        note_parts.append(sql_quote(f"\n{k}: "))
        if k.lower().startswith("bytes"):
            b_name = f"__mk_b{i}"
            binds.append(v.cast("double").alias(b_name))
            rendered = human_bytes_sql(f"`{b_name}`")
        else:
            rendered = f"`{s_name}`"
        note_parts.append(f"coalesce({rendered}, '')")
    map_sql = f"map({', '.join(map_args)})" if map_args else "map()"
    return df.select(*binds).selectExpr(
        f"{sig.sig_id} AS signature_id",
        f"CAST({batch_time} AS BIGINT) AS time",
        f"{ip_to_bytes_sql('`__mk_lo`')} AS lower_ip",
        f"{ip_to_bytes_sql('`__mk_hi`')} AS upper_ip",
        "CAST(`__mk_lo` AS STRING) AS lower_ip_str",
        "CAST(`__mk_hi` AS STRING) AS upper_ip_str",
        "`__mk_title` AS title",
        f"{map_sql} AS data",
        f"concat({', '.join(note_parts)}) AS note",
    )
