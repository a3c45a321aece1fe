"""Unit tests for the scalar function library (SURVEY.md §2.8)."""

import pyspark.sql.functions as F
import pytest

from hogzilla_spark.functions import scalar as S

def one(spark, expr, **cols):
    schema = ", ".join(f"{k} string" for k in cols)
    df = spark.createDataFrame([tuple(cols.values())], schema)
    return df.select(expr.alias("x")).collect()[0].x

def test_ip_to_bytes_sentinels(spark):
    # HogEvent.scala:44-58: v4 → 4 bytes, v6 → 255.255.6.6, bogus → 255.255.1.1
    df = spark.createDataFrame(
        [("10.1.2.3",), ("fe80::1",), ("garbage",)], "ip string"
    )
    got = [r.h for r in df.select(F.hex(S.ip_to_bytes("ip")).alias("h")).collect()]
    assert got == ["0A010203", "FFFF0606", "FFFF0101"]

def test_ip_significant_network(spark):
    assert one(spark, S.ip_significant_network("ip"), ip="10.1.2.3") == "10.1.2."
    assert one(spark, S.ip_significant_network("ip"), ip="a:b::c:d") == "a:b::c:"
    assert one(spark, S.ip_significant_network("ip"), ip="weird") == "weird"

def test_is_my_ip_prefix_semantics(spark):
    # HogSFlow.scala:725-731 — string-prefix, not CIDR
    df = spark.createDataFrame([("10.1.5.9",), ("10.10.1.1",), ("8.8.8.8",)], "ip string")
    got = [r.m for r in df.select(S.is_my_ip("ip", ["10.1."]).alias("m")).collect()]
    assert got == [True, False, False]

def test_log_bin(spark):
    import math

    assert one(spark, S.log_bin(F.col("x").cast("double")), x="1000") == math.floor(
        math.log(1001.0)
    )

def test_haversine_known_distance(spark):
    # São Paulo ↔ Rio ≈ 357.8 km
    d = one(
        spark,
        S.haversine_from_coords("a", "b"),
        a="-23.55,-46.63",
        b="-22.90,-43.20",
    )
    assert d == pytest.approx(357.85, abs=0.5)

def test_haversine_error_sentinel(spark):
    # HogGeograph.scala:55-57 — parse error → 999999999
    d = one(spark, S.haversine_from_coords("a", "b"), a="junk", b="0,0")
    assert d == 999999999.0

def test_human_bytes(spark):
    df = spark.createDataFrame([(512.0,), (1536.0,), (1.5e9,)], "b double")
    got = [r.h for r in df.select(F.expr(S.human_bytes_sql("b")).alias("h")).collect()]
    assert got == ["512.0b", "1.5K", "1.4G"]

def test_strip_accents(spark):
    assert (
        one(spark, S.strip_accents(F.col("s")), s="São Paulo é ótima")
        == "Sao Paulo e otima"
    )

# ---------------------------------------------------------------------------
# Row goldens for the SQL-text builders.  Each expected value below is the
# output of the retired Column-chain form of the same function on the same
# input, frozen when that form was deleted.
# ---------------------------------------------------------------------------

IP_TO_BYTES_GOLDEN = [
    ("1.2.3.4", "01020304"),
    ("10.1.0.39", "0A010027"),
    ("255.255.255.255", "FFFFFFFF"),
    ("0.0.0.0", "00000000"),
    ("999.999.999.999", "3E3E3E3E"),  # rlike passes; lpad truncates
    ("01.002.3.4", "01020304"),
    ("a:b::c:d", "FFFF0606"),
    ("::1", "FFFF0606"),
    ("not-an-ip", "FFFF0101"),
    ("1.2.3", "FFFF0101"),
    ("1.2.3.4.5", "FFFF0101"),
    ("", "FFFF0101"),
    (None, "FFFF0101"),
]


def test_ip_to_bytes_golden(spark):
    df = spark.createDataFrame([(v,) for v, _ in IP_TO_BYTES_GOLDEN], "ip string")
    got = [r.h for r in df.select(F.hex(S.ip_to_bytes("ip")).alias("h")).collect()]
    assert got == [h for _, h in IP_TO_BYTES_GOLDEN]


HUMAN_BYTES_GOLDEN = [
    (0.0, "0.0b"),
    (1.0, "1.0b"),
    (1023.0, "1,023.0b"),
    (1024.0, "1.0K"),
    (1024.5, "1.0K"),
    (1536.0, "1.5K"),
    (1024.0**2, "1.0M"),
    (1024.0**3 * 1.5, "1.5G"),
    (1024.0**5, "1.0P"),
    (1024.0**6, "1,024.0P"),  # beyond the unit table: least() caps at P
    (1e18, "888.2P"),
    (123456789.0, "117.7M"),
    (None, None),
]


def test_human_bytes_golden(spark):
    df = spark.createDataFrame([(v,) for v, _ in HUMAN_BYTES_GOLDEN], "b double")
    got = [r.h for r in df.select(F.expr(S.human_bytes_sql("b")).alias("h")).collect()]
    assert got == [h for _, h in HUMAN_BYTES_GOLDEN]


_NOTE_HEAD = (
    "This IP was detected by Hogzilla performing an abnormal activity. "
    "In what follows, you can see more information.\n"
    "Abnormal behaviour: HZ: UDP amplifier (DDoS)"
)
_LOWER_IP_BYTES = (
    b"\n\x01\x02\x03",
    b"\xff\xff\x06\x06",
    b"\xff\xff\x01\x01",
)
MK_ALERT_GOLDEN = {
    True: [
        (
            {"hostname": "10.1.2.3", "bytesUp": "1500000", "connections": "42",
             "numberPkts": None},
            "\nhostname: 10.1.2.3\nbytesUp: 1.4M\nconnections: 42\nnumberPkts: ",
        ),
        (
            {"hostname": "a:b::c:d", "bytesUp": "0", "connections": None,
             "numberPkts": "7"},
            "\nhostname: a:b::c:d\nbytesUp: 0.0b\nconnections: \nnumberPkts: 7",
        ),
        (
            {"hostname": None, "bytesUp": "1099511627776", "connections": "3",
             "numberPkts": "3"},
            "\nhostname: \nbytesUp: 1.0T\nconnections: 3\nnumberPkts: 3",
        ),
    ],
    False: [({}, ""), ({}, ""), ({}, "")],
}


@pytest.mark.parametrize("with_data", [True, False])
def test_mk_alert_golden(spark, with_data):
    from hogzilla_spark.detectors.base import SIGNATURES, mk_alert

    df = spark.createDataFrame(
        [
            ("10.1.2.3", "8.9.0.1", 1_500_000, 42, None),
            ("a:b::c:d", "bogus", 0, None, 7),
            (None, "7.7.7.7", 2**40, 3, 3),
        ],
        "myIP string, alienIP string, up long, conns int, pkts int",
    )
    data = {
        "hostname": F.col("myIP"),
        "bytesUp": F.col("up"),
        "connections": F.col("conns"),
        "numberPkts": F.col("pkts"),
    }
    got = mk_alert(
        df,
        sig=SIGNATURES["udp_amplifier"],
        lower_ip=F.col("myIP"),
        upper_ip=F.lit("255.255.255.255"),
        title=F.lit("HZ: UDP amplifier (DDoS)"),
        data=data if with_data else {},
        batch_time=21600,
    )
    assert got.schema.simpleString() == (
        "struct<signature_id:int,time:bigint,lower_ip:binary,upper_ip:binary,"
        "lower_ip_str:string,upper_ip_str:string,title:string,"
        f"data:map<{'string,string' if with_data else 'void,void'}>,note:string>"
    )
    want = [
        (
            826001009, 21600, lo, b"\xff\xff\xff\xff", ip, "255.255.255.255",
            "HZ: UDP amplifier (DDoS)", m, _NOTE_HEAD + tail,
        )
        for lo, ip, (m, tail) in zip(
            _LOWER_IP_BYTES, ["10.1.2.3", "a:b::c:d", None], MK_ALERT_GOLDEN[with_data]
        )
    ]
    assert [tuple(r) for r in got.collect()] == want


def test_sql_quote_roundtrips_specials(spark):
    for s in ["plain", "a'b", "back\\slash", "line\nbreak", "'; DROP--"]:
        got = spark.range(1).select(F.expr(S.sql_quote(s))).collect()[0][0]
        assert got == s
