"""Canonical flow rollups (SURVEY.md §2.4 A1/A2 + §2.2 P7).

The reference builds ``sflowSummary`` — the shared input of every sFlow
detector — by orienting each sampled packet into the (myIP, alienIP)
frame and reducing on the 5-tuple (HogSFlow.scala:789-882).  Here it is
one declarative groupBy over a CASE-chain projection; Catalyst plans
a partial+final hash aggregate (same shape as the reference's
``reduceByKey``, minus the hand-scheduling).

Intentional divergence (SURVEY.md §4 item 4): the reference's running
``(a+b)/2`` sampleRate "average" is order-dependent; we compute a true
mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hogzilla_spark.functions.scalar import (
    TCP_ACK,
    TCP_PSHACK,
    TCP_SYN,
    TCP_SYNACK,
    is_my_ip_sql,
)

UNKNOWN, LEFTRIGHT, RIGHTLEFT, OCCURRED = 0, 1, -1, 1

def orient_flows(sflows: DataFrame, my_nets: list[str]) -> DataFrame:
    """P7: per-packet direction/status inference + (myIP, alienIP) orientation.

    Semantics (HogSFlow.scala:811-866):
      - TCP only: SYN → direction +1 (src initiated); SYN-ACK → −1 and a
        confirmed status; PSH-ACK → confirmed; ACK from a my-host →
        confirmed; else ports<1024 heuristic (srcPort wins when both are
        low — reference last-write-wins).  UDP keeps direction 0.
      - If src is not a my-net IP the tuple is flipped to (dst, src) and
        the direction vote is negated; bytes land on bytesDown.
    """
    # Built as ONE parsed selectExpr (r12): a Column-chain build costs
    # ~0.2 s of py4j driver round trips per call, ×14 call sites across
    # the registry.  Row goldens in tests/test_rollup.py pin the output.
    sm = is_my_ip_sql("srcIP", my_nets)

    # port heuristic only when flags decided nothing.  The reference's
    # two sequential `if`s (HogSFlow.scala:838-845) are last-write-wins:
    # srcPort<1024 overwrites dstPort<1024, so when BOTH ports are low
    # the answer is RIGHTLEFT.
    direction = (
        f"CASE WHEN (IPprotocol = '6') THEN "
        f"CASE WHEN (tcpFlags = '{TCP_SYN}') THEN {LEFTRIGHT} "
        f"WHEN (tcpFlags = '{TCP_SYNACK}') THEN {RIGHTLEFT} "
        f"ELSE CASE WHEN (try_cast(srcPort AS INT) < 1024) THEN {RIGHTLEFT} "
        f"WHEN (try_cast(dstPort AS INT) < 1024) THEN {LEFTRIGHT} "
        f"ELSE {UNKNOWN} END END ELSE {UNKNOWN} END"
    )
    status = (
        f"CASE WHEN ((IPprotocol = '6') AND ((tcpFlags = '{TCP_SYNACK}') "
        f"OR (tcpFlags = '{TCP_PSHACK}') OR ((tcpFlags = '{TCP_ACK}') "
        f"AND {sm}))) THEN {OCCURRED} ELSE {UNKNOWN} END"
    )

    return sflows.selectExpr(
        f"CASE WHEN {sm} THEN srcIP ELSE dstIP END AS myIP",
        f"CASE WHEN {sm} THEN srcPort ELSE dstPort END AS myPort",
        f"CASE WHEN {sm} THEN dstIP ELSE srcIP END AS alienIP",
        f"CASE WHEN {sm} THEN dstPort ELSE srcPort END AS alienPort",
        "CASE WHEN (IPprotocol = '6') THEN 'TCP' ELSE 'UDP' END AS proto",
        f"CAST(CASE WHEN {sm} THEN packetSize ELSE 0 END AS BIGINT) AS bytesUp",
        f"CAST(CASE WHEN {sm} THEN 0 ELSE packetSize END AS BIGINT) AS bytesDown",
        "CAST(1 AS BIGINT) AS numberPkts",
        f"CASE WHEN {sm} THEN {direction} ELSE -({direction}) END AS direction",
        "`timestamp` AS beginTime",
        "`timestamp` AS endTime",
        "IPprotocol",
        "samplingRate AS sampleRate",
        f"{status} AS status",
    )

def sflow_summary(sflows: DataFrame, my_nets: list[str]) -> DataFrame:
    """A1: the canonical 5-tuple rollup every TCP/UDP detector reads.

    One shuffle on (myIP, myPort, alienIP, alienPort, proto); map-side
    partial aggregation is automatic.  Callers `.persist()` the result
    when fanning out to many detectors (the reference `.cache`s too,
    HogSFlow.scala:882).
    """
    oriented = orient_flows(sflows, my_nets).filter(
        F.col("IPprotocol").isin("6", "17")
    )
    return oriented.groupBy("myIP", "myPort", "alienIP", "alienPort", "proto").agg(
        F.sum("bytesUp").alias("bytesUp"),
        F.sum("bytesDown").alias("bytesDown"),
        F.sum("numberPkts").alias("numberPkts"),
        F.sum("direction").alias("direction"),
        F.min("beginTime").alias("beginTime"),
        F.max("endTime").alias("endTime"),
        F.avg("sampleRate").alias("sampleRate"),
        F.sum("status").alias("status"),
    )

def icmp_summary(sflows: DataFrame, my_nets: list[str]) -> DataFrame:
    """A2: ICMP/ICMPv6 variant keyed (myIP, icmpType, alienIP, icmpCode,
    proto); srcPort/dstPort carry type/code (HogSFlow.scala:885-939)."""
    # same parsed-selectExpr build shape (and row golden) as orient_flows
    sm = is_my_ip_sql("srcIP", my_nets)
    oriented = sflows.filter(F.col("IPprotocol").isin("1", "58")).selectExpr(
        f"CASE WHEN {sm} THEN srcIP ELSE dstIP END AS myIP",
        f"CASE WHEN {sm} THEN srcPort ELSE dstPort END AS icmpType",
        f"CASE WHEN {sm} THEN dstIP ELSE srcIP END AS alienIP",
        f"CASE WHEN {sm} THEN dstPort ELSE srcPort END AS icmpCode",
        "CASE WHEN (IPprotocol = '1') THEN 'ICMP' ELSE 'ICMPv6' END AS proto",
        f"CAST(CASE WHEN {sm} THEN packetSize ELSE 0 END AS BIGINT) AS bytesUp",
        f"CAST(CASE WHEN {sm} THEN 0 ELSE packetSize END AS BIGINT) AS bytesDown",
        "CAST(1 AS BIGINT) AS numberPkts",
        f"CASE WHEN {sm} THEN 1 ELSE -1 END AS direction",
        "`timestamp` AS beginTime",
        "`timestamp` AS endTime",
        "samplingRate AS sampleRate",
    )
    return oriented.groupBy("myIP", "icmpType", "alienIP", "icmpCode", "proto").agg(
        F.sum("bytesUp").alias("bytesUp"),
        F.sum("bytesDown").alias("bytesDown"),
        F.sum("numberPkts").alias("numberPkts"),
        F.sum("direction").alias("direction"),
        F.min("beginTime").alias("beginTime"),
        F.max("endTime").alias("endTime"),
        F.avg("sampleRate").alias("sampleRate"),
    )
