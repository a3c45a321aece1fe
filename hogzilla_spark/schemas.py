"""Typed catalog: explicit StructType for every engine table.

The reference stores everything as stringly-typed HBase qualifiers
(HogHBaseRDD.scala:234-245); the engine replaces that with explicit
Parquet-friendly schemas (SURVEY.md §1.4).  Nullable columns stand in
for "missing qualifier".
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- inputs -----------------------------------------------------------------

# sFlow packet samples (HogHBaseRDD.scala:228-230; FIXTURES.md §1).
# Ports stay strings: the reference compares them both as strings and ints.
SFLOWS = T.StructType(
    [
        T.StructField("srcIP", T.StringType()),
        T.StructField("dstIP", T.StringType()),
        T.StructField("srcPort", T.StringType()),
        T.StructField("dstPort", T.StringType()),
        T.StructField("IPprotocol", T.StringType()),
        T.StructField("packetSize", T.LongType()),
        T.StructField("samplingRate", T.LongType()),
        T.StructField("tcpFlags", T.StringType()),
        T.StructField("timestamp", T.LongType()),  # epoch seconds
        # carried but unread by analytics — schema parity (FIXTURES.md §1)
        T.StructField("agentID", T.StringType()),
        T.StructField("srcMAC", T.StringType()),
        T.StructField("dstMAC", T.StringType()),
        T.StructField("ethernetType", T.StringType()),
        T.StructField("inVlan", T.StringType()),
        T.StructField("outVlan", T.StringType()),
        T.StructField("inputPort", T.StringType()),
        T.StructField("outputPort", T.StringType()),
        T.StructField("ipTos", T.StringType()),
        T.StructField("ipTtl", T.StringType()),
        T.StructField("IPsize", T.LongType()),
    ]
)

# nDPI/Snort-enriched flows — the subset actually read by the analytics
# (FIXTURES.md §2; full catalog HogHBaseRDD.scala:46-225).
FLOWS = T.StructType(
    [
        T.StructField("flow_id", T.StringType()),  # "<epochMillis>.<seq>"
        T.StructField("first_seen", T.LongType()),
        T.StructField("lower_ip", T.StringType()),
        T.StructField("upper_ip", T.StringType()),
        T.StructField("lower_port", T.StringType()),
        T.StructField("upper_port", T.StringType()),
        T.StructField("lower_name", T.StringType()),
        T.StructField("upper_name", T.StringType()),
        T.StructField("detected_protocol", T.StringType()),
        T.StructField("host_server_name", T.StringType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("packets", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("avg_packet_size", T.LongType()),
        T.StructField("min_packet_size", T.LongType()),
        T.StructField("max_packet_size", T.LongType()),
        T.StructField("packets_without_payload", T.LongType()),
        T.StructField("flow_duration", T.LongType()),
        T.StructField("avg_inter_time", T.LongType()),
        *[T.StructField(f"packet_size_{i}", T.LongType()) for i in range(5)],
        *[T.StructField(f"inter_time_{i}", T.LongType()) for i in range(5)],
        T.StructField("dns_num_queries", T.IntegerType()),
        T.StructField("dns_num_answers", T.IntegerType()),
        T.StructField("dns_ret_code", T.IntegerType()),
        T.StructField("dns_bad_packet", T.IntegerType()),
        T.StructField("dns_query_type", T.IntegerType()),
        T.StructField("dns_rsp_type", T.IntegerType()),
        T.StructField("http_method", T.IntegerType()),
        T.StructField("http_url", T.StringType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("http_response_status_code", T.IntegerType()),
        T.StructField("ndpi_risk", T.StringType()),
        T.StructField("event_signature_id", T.StringType()),
        T.StructField("event_generator_id", T.StringType()),
        T.StructField("event_priority_id", T.StringType()),
    ]
)

# auth/SSO login records (HogAuth.scala:276-305; FIXTURES.md §3)
AUTHRECORDS = T.StructType(
    [
        T.StructField("generatedTime", T.DoubleType()),
        T.StructField("agent", T.StringType()),
        T.StructField("service", T.StringType()),
        T.StructField("clientReverse", T.StringType()),
        T.StructField("clientIP", T.StringType()),
        T.StructField("userName", T.StringType()),
        T.StructField("authMethod", T.StringType()),
        T.StructField("loginFailed", T.IntegerType()),
        T.StructField("userAgent", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("coords", T.StringType()),  # "lat,lon"
        T.StructField("asn", T.StringType()),
    ]
)

# --- dimensions -------------------------------------------------------------

MYNETS = T.StructType(
    [
        T.StructField("prefix", T.StringType()),  # string-prefix semantics
        T.StructField("description", T.StringType()),
    ]
)

REPUTATION = T.StructType(
    [
        T.StructField("ip", T.StringType()),  # IP or prefix
        T.StructField("list", T.StringType()),
        T.StructField("list_type", T.StringType()),
        T.StructField("description", T.StringType()),
    ]
)

# --- learned state ----------------------------------------------------------

# per-entity categorical distribution (HogHBaseHistogram.scala:106-136)
HISTOGRAMS = T.StructType(
    [
        T.StructField("hist_name", T.StringType()),  # "<FAMILY>-<entity>"
        T.StructField("size", T.LongType()),
        T.StructField("values", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
    ]
)

# --- outputs ----------------------------------------------------------------

# alert sink (HogEvent.scala:61-82)
EVENTS = T.StructType(
    [
        T.StructField("signature_id", T.LongType()),
        T.StructField("time", T.LongType()),
        T.StructField("lower_ip", T.BinaryType()),  # 4-byte, sentinel rules F2
        T.StructField("upper_ip", T.BinaryType()),
        T.StructField("lower_ip_str", T.StringType()),
        T.StructField("upper_ip_str", T.StringType()),
        T.StructField("ports", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("username", T.StringType()),
        T.StructField("coords", T.StringType()),
        T.StructField("note", T.StringType()),
    ]
)

# alert-type catalog (HogSignature.scala:35-52)
SIGNATURES = T.StructType(
    [
        T.StructField("signature_id", T.LongType()),
        T.StructField("signature_class", T.IntegerType()),
        T.StructField("signature_name", T.StringType()),
        T.StructField("signature_priority", T.IntegerType()),
        T.StructField("signature_revision", T.IntegerType()),
        T.StructField("signature_group_id", T.LongType()),
    ]
)

CLUSTERS = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("cluster_idx", T.IntegerType()),
        T.StructField("size", T.LongType()),
        T.StructField("centroid", T.ArrayType(T.DoubleType())),
        T.StructField("description", T.StringType()),
    ]
)

CLUSTER_MEMBERS = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("cluster_idx", T.IntegerType()),
        T.StructField("member_ip", T.StringType()),
        T.StructField("distance", T.DoubleType()),
        T.StructField("ports", T.ArrayType(T.StringType())),
        T.StructField("frequencies", T.ArrayType(T.DoubleType())),
    ]
)

INVENTORY = T.StructType(
    [
        T.StructField("ip", T.StringType()),
        T.StructField("os", T.StringType()),
    ]
)

# documents / embeddings used by the training-data pipeline operators
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

ALL_TABLES: dict[str, T.StructType] = {
    "sflows": SFLOWS,
    "flows": FLOWS,
    "authrecords": AUTHRECORDS,
    "mynets": MYNETS,
    "reputation": REPUTATION,
    "histograms": HISTOGRAMS,
    "events": EVENTS,
    "signatures": SIGNATURES,
    "clusters": CLUSTERS,
    "cluster_members": CLUSTER_MEMBERS,
    "inventory": INVENTORY,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
