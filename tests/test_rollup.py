"""sflow_summary / orientation tests (SURVEY.md A1/A2/P7)."""

import pytest

import __spark_entry__ as E
from hogzilla_spark.operators.rollup import icmp_summary, orient_flows, sflow_summary

MYNETS = ["10.1."]

def mk(spark, rows):
    return spark.createDataFrame(
        rows,
        "srcIP string, srcPort string, dstIP string, dstPort string, "
        "IPprotocol string, packetSize long, samplingRate long, "
        "tcpFlags string, timestamp long",
    )

def test_udp_bidirectional_merge(spark):
    # both packet directions fold into one (myIP, alienIP) tuple
    df = mk(
        spark,
        [
            ("10.1.0.5", "44123", "8.8.8.8", "53", "17", 1200, 1024, "0x00", 1000),
            ("8.8.8.8", "53", "10.1.0.5", "44123", "17", 400, 1024, "0x00", 1005),
        ],
    )
    r = sflow_summary(df, MYNETS).collect()
    assert len(r) == 1
    row = r[0]
    assert (row.myIP, row.alienIP, row.proto) == ("10.1.0.5", "8.8.8.8", "UDP")
    assert (row.bytesUp, row.bytesDown, row.numberPkts) == (1200, 400, 2)
    assert (row.beginTime, row.endTime) == (1000, 1005)
    assert row.direction == 0 and row.status == 0

def test_tcp_direction_and_status(spark):
    # SYN out (+1), SYN-ACK back (alien-origin −(−1)=+1), confirmed status
    df = mk(
        spark,
        [
            ("10.1.0.5", "44321", "1.2.3.4", "80", "6", 300, 1024, "0x02", 1010),
            ("1.2.3.4", "80", "10.1.0.5", "44321", "6", 5000, 1024, "0x12", 1011),
        ],
    )
    row = sflow_summary(df, MYNETS).collect()[0]
    assert row.direction == 2  # +1 (SYN) + (−(−1)) (SYN-ACK from alien)
    assert row.status == 1  # SYN-ACK confirms
    assert (row.bytesUp, row.bytesDown) == (300, 5000)

def test_port_heuristic_only_when_flags_unknown(spark):
    # PSH-ACK sets status but not direction → dstPort<1024 heuristic fires
    df = mk(
        spark,
        [("10.1.0.5", "5555", "1.2.3.4", "80", "6", 100, 1, "0x18", 1)],
    )
    row = sflow_summary(df, MYNETS).collect()[0]
    assert row.direction == 1 and row.status == 1

def test_both_ports_low_src_wins(spark):
    # Reference last-write-wins (HogSFlow.scala:838-845): when BOTH ports
    # are <1024 the second sequential `if` (srcPort) overwrites the first,
    # so the vote is RIGHTLEFT even though dstPort is also low.
    df = mk(
        spark,
        [("10.1.0.5", "514", "1.2.3.4", "513", "6", 100, 1, "0x00", 1)],
    )
    row = sflow_summary(df, MYNETS).collect()[0]
    assert row.direction == -1

def test_ack_from_my_host_confirms(spark):
    df = mk(spark, [("10.1.0.5", "5555", "1.2.3.4", "9999", "6", 100, 1, "0x10", 1)])
    row = sflow_summary(df, MYNETS).collect()[0]
    assert row.status == 1 and row.direction == 0

def test_ack_from_alien_does_not_confirm(spark):
    df = mk(spark, [("1.2.3.4", "9999", "10.1.0.5", "5555", "6", 100, 1, "0x10", 1)])
    row = sflow_summary(df, MYNETS).collect()[0]
    assert row.status == 0

def test_icmp_separated_from_tcp_udp(spark):
    df = mk(
        spark,
        [
            ("9.9.9.9", "8", "10.1.0.9", "0", "1", 100, 1024, "0x00", 1000),
            ("10.1.0.5", "44123", "8.8.8.8", "53", "17", 1200, 1024, "0x00", 1000),
        ],
    )
    assert sflow_summary(df, MYNETS).count() == 1
    icmp = icmp_summary(df, MYNETS).collect()
    assert len(icmp) == 1
    row = icmp[0]
    assert (row.myIP, row.icmpType, row.alienIP, row.icmpCode) == (
        "10.1.0.9", "0", "9.9.9.9", "8",
    )
    assert row.proto == "ICMP" and row.direction == -1 and row.bytesDown == 100

def test_both_alien_assumes_dst_mine(spark):
    # reference keys on dst when src is not mine, even if dst isn't either
    df = mk(spark, [("7.7.7.7", "1234", "8.8.8.8", "80", "6", 10, 1, "0x02", 1)])
    row = sflow_summary(df, MYNETS).collect()[0]
    assert (row.myIP, row.alienIP) == ("8.8.8.8", "7.7.7.7")
    assert row.direction == -1  # −LEFTRIGHT

# ---------------------------------------------------------------------------
# Row goldens on the synth sFlow corpora (sf0.001).  The expected digests
# are those of the retired Column-chain builds of orient_flows,
# icmp_summary and _synth_sflows on the same inputs, frozen when those
# builds were deleted: sha256 over the sorted row reprs, plus the schema
# and row count.
# ---------------------------------------------------------------------------

SF = E.SF_DEFAULT

_FLOW_SCHEMA = (
    "struct<myIP:string,myPort:string,alienIP:string,alienPort:string,"
    "proto:string,bytesUp:bigint,bytesDown:bigint,numberPkts:bigint,"
    "direction:int,beginTime:bigint,endTime:bigint,IPprotocol:string,"
    "sampleRate:bigint,status:int>"
)
_SYNTH_SCHEMA = (
    "struct<srcIP:string,srcPort:string,dstIP:string,dstPort:string,"
    "IPprotocol:string,packetSize:bigint,samplingRate:bigint,"
    "tcpFlags:string,timestamp:bigint>"
)


def _digest(df):
    import hashlib

    rows = sorted(map(repr, df.collect()))
    return (
        df.schema.simpleString(),
        len(rows),
        hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    )


def test_orient_flows_golden(spark):
    got = _digest(orient_flows(E._synth_sflows(spark, SF), MYNETS))
    assert got == (
        _FLOW_SCHEMA,
        1000,
        "e2badf54660a7c47dd4a74e413bb9a00f54f324b7f2a9687e45012306a5f9e1f",
    )


def test_orient_flows_empty_mynets(spark):
    got = _digest(orient_flows(E._synth_sflows(spark, SF).limit(50), []))
    assert got == (
        _FLOW_SCHEMA,
        50,
        "8390eaec2f6b4349268e7e47e9e76096effc2b80c692c05647af7edc87abfe53",
    )


def test_icmp_summary_golden(spark):
    got = _digest(icmp_summary(E._synth_sflows2(spark, SF), MYNETS))
    assert got == (
        "struct<myIP:string,icmpType:string,alienIP:string,icmpCode:string,"
        "proto:string,bytesUp:bigint,bytesDown:bigint,numberPkts:bigint,"
        "direction:bigint,beginTime:bigint,endTime:bigint,sampleRate:double>",
        15,
        "9fa55d0e3dbd6c79364bb481c09b2eb7031872a453579b9649dd7575fcd66387",
    )


def test_synth_sflows_golden(spark):
    assert _digest(E._synth_sflows(spark, SF)) == (
        _SYNTH_SCHEMA,
        1000,
        "b58b06d5cc5715d1edff4b45dd50a4b5175c33af4cf0b844c5d91a32cb25f019",
    )


def test_synth_sflows_golden_shape(spark):
    """The parsed-SQL synth builders keep their documented output
    schema and deterministic values (spot-pin one row per builder; the
    DuckDB _SYNTH_SQL twins and every detector oracle pin the rest)."""
    p1 = E._synth_sflows(spark, SF)
    assert [f.name for f in p1.schema.fields] == [
        "srcIP", "srcPort", "dstIP", "dstPort", "IPprotocol",
        "packetSize", "samplingRate", "tcpFlags", "timestamp",
    ]
    p2 = E._synth_sflows2(spark, SF)
    assert [f.name for f in p2.schema.fields] == [
        "srcIP", "srcPort", "dstIP", "dstPort", "IPprotocol",
        "packetSize", "samplingRate", "tcpFlags", "timestamp",
    ]
    assert p1.count() == p2.count() > 0
