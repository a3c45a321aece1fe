"""K-means anomaly modules (SURVEY.md §2.10 M1-M6).

Shared normalize → cluster → taint-selection harness used by the DNS
(k=9) and HTTP (k=32) analytics, plus the HIST01 server-profile
clustering (k=10).  pyspark.ml with pinned seeds (the reference leaves
seeds unpinned — documented divergence for reproducibility).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hogzilla_spark.config import MLConfig

# DNS k-means features (HogDNS.scala:115-131), engine column names
DNS_FEATURES = [
    "avg_packet_size", "packets_without_payload", "avg_inter_time",
    "flow_duration", "max_packet_size", "bytes", "packets",
    "min_packet_size", "packet_size_0", "inter_time_0", "packet_size_1",
    "dns_num_queries", "dns_num_answers", "dns_ret_code",
    "dns_bad_packet", "dns_query_type", "dns_rsp_type",
]

# HTTP k-means features (HogHTTP.scala:106-124)
HTTP_FEATURES = [
    "avg_packet_size", "packets_without_payload", "avg_inter_time",
    "flow_duration", "max_packet_size", "bytes", "packets",
    "min_packet_size",
    "packet_size_0", "inter_time_0", "packet_size_1", "inter_time_1",
    "packet_size_2", "inter_time_2", "packet_size_3", "inter_time_3",
    "packet_size_4", "inter_time_4",
    "http_method",
]

def zscore_normalize(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """M1: per-feature (x−μ)/σ with the reference's exact recipe
    (HogDNS.scala:168-190): population σ = sqrt(n·Σx² − (Σx)²)/n and the
    σ≤0 → (x−μ) fallback.  One aggregate pass, then a pure projection —
    no per-row Python."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in feature_cols:
        d = F.coalesce(F.col(c).cast("double"), F.lit(0.0))
        aggs.append(F.sum(d).alias(f"__sum_{c}"))
        aggs.append(F.sum(d * d).alias(f"__ssq_{c}"))
    stats = df.agg(*aggs).collect()[0]
    n = float(stats["__n"])
    out_cols = []
    for c in feature_cols:
        s, ss = stats[f"__sum_{c}"], stats[f"__ssq_{c}"]
        mean = s / n
        var_term = n * ss - s * s
        std = (var_term ** 0.5) / n if var_term > 0 else 0.0
        d = F.coalesce(F.col(c).cast("double"), F.lit(0.0))
        expr = (d - F.lit(mean)) / F.lit(std) if std > 0 else (d - F.lit(mean))
        out_cols.append(expr.alias(f"z_{c}"))
    return df.select("*", *out_cols)

def kmeans_taint(
    df: DataFrame,
    feature_cols: list[str],
    k: int,
    group_col: str,
    dirty_col: str,
    cfg: MLConfig,
) -> tuple[DataFrame, DataFrame]:
    """M2/M3 + M5: cluster z-scored features, score (cluster, group)
    cells, taint small dirty ones, alert their untagged members.

    Taint rule (HogDNS.scala:271-278): cell count < 5%·N and mean dirty
    rate ≥ 0.001.  Returns (tainted_members, cell_stats).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    normed = zscore_normalize(df, feature_cols)
    assembler = VectorAssembler(
        inputCols=[f"z_{c}" for c in feature_cols], outputCol="features"
    )
    feat = assembler.transform(normed)
    model = KMeans(k=k, seed=cfg.seed, featuresCol="features", predictionCol="cluster").fit(feat)
    pred = model.transform(feat).drop("features", *[f"z_{c}" for c in feature_cols])
    return taint_selection(pred, group_col, dirty_col, cfg)

def taint_selection(
    pred: DataFrame,
    group_col: str,
    dirty_col: str,
    cfg: MLConfig,
) -> tuple[DataFrame, DataFrame]:
    """M5's deterministic relational half (HogDNS.scala:218-299), split
    from the iterative fit so it composes with ANY cluster assignment:
    score each (cluster, group) cell, taint small dirty cells
    (count < 5%·N and mean dirty rate ≥ 0.001), select the UNTAGGED
    members of tainted cells.  `pred` needs a ``cluster`` column plus
    `group_col`/`dirty_col`.  Returns (tainted_members, cell_stats).

    Scale: one shuffle on (cluster, group); the tainted cell list is
    small by construction (each cell < 5% of N) and arrives broadcast
    for the member selection."""
    total = pred.count()
    cells = pred.groupBy("cluster", group_col).agg(
        F.avg(F.col(dirty_col).cast("double")).alias("dirty_rate"),
        F.count(F.lit(1)).alias("cell_count"),
    )
    tainted = cells.filter(
        (F.col("cell_count") < cfg.taint_max_group_pct * total)
        & (F.col("dirty_rate") >= cfg.taint_min_dirty_rate)
    )
    members = pred.join(
        F.broadcast(tainted.select("cluster", group_col)), ["cluster", group_col]
    ).filter(F.col(dirty_col) == 0)  # alert only non-tagged members
    return members, cells

def _flow_ts_ok(cutoff_ms: int | None) -> Column:
    """P5: only flows older than 100 min (flow_id epoch-ms prefix,
    HogDNS.scala:158) — cutoff injected for determinism."""
    if cutoff_ms is None:
        return F.lit(True)
    return F.split(F.col("flow_id"), r"\.").getItem(0).try_cast("long") < cutoff_ms

def dns_kmeans(
    flows: DataFrame, cfg: MLConfig, cutoff_ms: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """826000001 (HogDNS.scala:112-324): DNS flows on port 53."""
    dns = flows.filter(
        ((F.col("lower_port") == "53") | (F.col("upper_port") == "53"))
        & (F.col("packets") > 1)
        & _flow_ts_ok(cutoff_ms)
    ).withColumn(
        "dirty",
        F.when(F.col("event_priority_id") == "1", F.lit(1)).otherwise(F.lit(0)),
    )
    if dns.isEmpty():
        return dns, dns
    return kmeans_taint(dns, DNS_FEATURES, cfg.dns_k, "detected_protocol", "dirty", cfg)

def http_kmeans(
    flows: DataFrame, cfg: MLConfig, cutoff_ms: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """826000101 (HogHTTP.scala:103-319): HTTP flows on ports 80/81."""
    http = flows.filter(
        (
            (F.col("lower_port").isin("80", "81"))
            | (F.col("upper_port").isin("80", "81"))
        )
        & (F.col("packets") > 1)
        & _flow_ts_ok(cutoff_ms)
    ).withColumn(
        "dirty",
        F.when(F.col("event_priority_id") == "1", F.lit(1)).otherwise(F.lit(0)),
    )
    if http.isEmpty():
        return http, http
    return kmeans_taint(http, HTTP_FEATURES, cfg.http_k, "detected_protocol", "dirty", cfg)

def histogram_clustering(
    histograms: DataFrame,
    my_nets: list[str],
    cfg: MLConfig,
    min_size: int = 20,
    max_port: int = 10000,
    min_weight: float = 0.001,
) -> tuple[DataFrame, DataFrame]:
    """M4/M6 (HogSFlowHistograms.scala:93-324): cluster internal hosts by
    their HIST01 open-port profile.

    Vector space: union of ports < max_port with weight > min_weight over
    mature (size>min_size) HIST01s of my-net hosts; densified per host.
    Returns (clusters, members): clusters kept when >4 members and some
    centroid bucket >10%; member distance = euclidean to centroid.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from hogzilla_spark.functions.scalar import is_my_ip
    from hogzilla_spark.state.store import saved_family

    base = (
        saved_family(histograms, "HIST01", "ip", "")
        .filter(F.col("size") > min_size)
        .filter(is_my_ip("ip", my_nets))
    )
    n_hosts = base.count()
    if n_hosts < 2:  # KMeans needs k ≥ 2; nothing to cluster anyway
        empty = base.sparkSession.createDataFrame(
            [], "cluster int, size long, centroid array<double>"
        )
        return empty, base.sparkSession.createDataFrame(
            [], "ip string, cluster int, distance double"
        )
    # union of eligible ports, sorted for a stable vector layout
    ports = sorted(
        r.port
        for r in base.select(
            F.explode(
                F.map_keys(
                    F.map_filter(
                        "values", lambda k, v: (k.try_cast("int") < max_port) & (v > min_weight)
                    )
                )
            ).alias("port")
        )
        .distinct()
        .collect()
    )
    if not ports:
        ports = ["0"]
    vec = F.array(
        *[F.coalesce(F.element_at("values", F.lit(p)), F.lit(0.0)) for p in ports]
    )
    feat = base.select("ip", array_to_vector(vec).alias("features"), vec.alias("arr"))
    model = KMeans(
        k=min(cfg.hist_k, n_hosts), seed=cfg.seed,
        featuresCol="features", predictionCol="cluster",
    ).fit(feat)
    pred = model.transform(feat)
    centers = {
        i: [float(x) for x in c] for i, c in enumerate(model.clusterCenters())
    }
    center_col = F.map_from_arrays(
        F.array(*[F.lit(i) for i in centers]),
        F.array(*[F.array(*[F.lit(v) for v in c]) for c in centers.values()]),
    )
    with_center = pred.withColumn("centroid", F.element_at(center_col, F.col("cluster")))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("arr", "centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    members = with_center.select("ip", "cluster", F.round(dist, 9).alias("distance"))
    clusters = (
        with_center.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("size"), F.first("centroid").alias("centroid"))
        .filter(
            (F.col("size") > 4)
            & (F.array_max("centroid") > 0.1)
        )
    )
    members = members.join(F.broadcast(clusters.select("cluster")), "cluster")
    return clusters, members
