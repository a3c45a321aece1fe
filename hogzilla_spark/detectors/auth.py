"""Auth-profiling analytics (SURVEY.md §2.11 826001201-04;
HogAuth.scala:257-435).

Per-user behavioral state in three families: HIST20 coords (labels =
"city/country"), HIST21 user-agent family, HIST22 "agent/service".
Learn gate 10; scoring guards: excluded cities, reverse-DNS whitelists,
and the 300 km haversine radius against every saved location.

The reference processes records one-by-one with per-record HBase
get/merge; the engine scores the whole batch against saved state with
one join per family and emits one combined per-user-record alert row
(sig 826001204 — the only live alert path, :414-432).

Reference-parity note: the service branch's learn gate reads the
USER-AGENT histogram size (HogAuth.scala:398 — a copy/paste slip in the
reference); we reproduce actual behavior and flag it here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hogzilla_spark.config import AuthConfig, HistogramConfig
from hogzilla_spark.detectors.base import SIGNATURES, mk_alert
from hogzilla_spark.functions.scalar import (
    haversine_from_coords,
    strip_accents,
    ua_family_sql,
)
from hogzilla_spark.operators.histogram import EPSILON
from hogzilla_spark.state.store import mk_update, saved_family

def prepare_auth(auth: DataFrame, ua_count_hint: int | None = None) -> DataFrame:
    """Projection + validity filter (HogAuth.scala:272-316): accents
    stripped, UA parsed to family, coords sanity, non-empty user.

    CONTRACT NOTE — this function is not fully lazy by default: unless
    `ua_count_hint` is given, it runs ONE eager Spark job (the
    shuffle-free ``approx_count_distinct`` probe below) at
    plan-construction time to pick the dictionary-join strategy.
    Callers that (a) loop per micro-batch or (b) read a
    non-deterministic source should persist the input and/or pass a
    carried `ua_count_hint` so the gate, the dictionary, and the fact
    join all observe the same data and the probe isn't re-paid per
    call.  streaming/auth_stream.py does both, and also persists this
    function's OUTPUT, which `score_auth` reads for the alerts and for
    each update family: the dictionary join and the CASE tree run once
    per micro-batch, not once per consumer.

    UA parsing is dictionary-encoded: the ~140-rule uap-core rlike
    chain evaluates once per DISTINCT user-agent string and the
    families join back, instead of once per record.  Login streams
    follow a sharp UA Zipf (a fleet of clients, a handful of agents),
    so distinct-UA cardinality is normally orders of magnitude below
    record count and the dictionary belongs on the broadcast side —
    but a BLIND broadcast hint is unsafe: an adversarial stream of
    nonce-salted user agents (UA fuzzing) makes |distinct UA| ≈
    |records| and a forced broadcast OOMs the driver where a shuffled
    hash join merely runs slower.  So the plan is picked from a
    measurement, not a guess: one shuffle-free
    ``approx_count_distinct`` scan (partial HLL sketches, no exact
    distinct materialized) gates the hint at 500 k distinct UAs
    (~50 MB).  Under the gate the fact table never shuffles its UA
    strings; over it, the join degrades to shuffled-hash exactly as
    the adversarial case needs.  Leaving the choice to AQE instead
    was measured 1.9× slower at sf100 (135 s vs the broadcast plan's
    ~73 s): the dictionary's size estimate sits above the adaptive
    broadcast threshold until runtime, and by then the 166 M-row UA
    shuffle is already queued."""
    raw_ua = F.coalesce("userAgent", F.lit(""))
    auth = auth.withColumn("__ua_raw", raw_ua)
    # the 171-rule CASE tree parses in one round trip (a Column-chain
    # build cost 1.12 s per call, r12); row goldens on the vendored
    # uap-core vectors live in tests/test_auth.py
    fams = (
        auth.select("__ua_raw")
        .distinct()
        .withColumn("__ua_fam", F.expr(ua_family_sql("__ua_raw")))
    )
    n_ua = (
        ua_count_hint
        if ua_count_hint is not None
        else auth.agg(F.approx_count_distinct("__ua_raw").alias("n")).first()["n"]
    )
    auth = auth.join(F.broadcast(fams) if n_ua <= 500_000 else fams, "__ua_raw", "left")
    return (
        auth.select(
            "generatedTime",
            "agent",
            "service",
            F.coalesce("clientReverse", F.lit("")).alias("clientReverse"),
            "clientIP",
            "userName",
            "authMethod",
            "loginFailed",
            F.col("__ua_fam").alias("userAgent"),
            strip_accents(F.coalesce("country", F.lit(""))).alias("country"),
            strip_accents(F.coalesce("region", F.lit(""))).alias("region"),
            strip_accents(F.coalesce("city", F.lit(""))).alias("city"),
            "coords",
            "asn",
        )
        .filter((F.length("coords") < 30) & (F.length("userName") > 0))
    )

def _ends_with_any(c: Column, suffixes: list[str]) -> Column:
    out = F.lit(False)
    for s in sorted(suffixes):
        out = out | c.endswith(s)
    return out

def auth_profile(
    auth: DataFrame,
    histograms: DataFrame,
    cfg: AuthConfig,
    hcfg: HistogramConfig,
    batch_time: int = 0,
    ua_count_hint: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One batch pass over raw auth records: returns (combined alerts
    826001204, state updates for HIST20/21/22).  `ua_count_hint`
    forwards to `prepare_auth` — when given, plan construction is fully
    lazy (no probe job)."""
    return score_auth(
        prepare_auth(auth, ua_count_hint=ua_count_hint), histograms, cfg, hcfg, batch_time
    )

def score_auth(
    rec: DataFrame,
    histograms: DataFrame,
    cfg: AuthConfig,
    hcfg: HistogramConfig,
    batch_time: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Score `prepare_auth`'s output against saved state: returns
    (combined alerts 826001204, state updates for HIST20/21/22).  The
    alerts and all three update families read `rec`; a caller that
    persists it (streaming/auth_stream.py) runs the UA dictionary join
    and the CASE tree once for all four."""
    loc_label = F.concat(
        F.regexp_replace(F.trim("city"), " ", "_"),
        F.lit("/"),
        F.regexp_replace(F.trim("country"), " ", "_"),
    )
    service_label = F.concat(
        F.regexp_replace(F.trim("agent"), " ", "_"),
        F.lit("/"),
        F.regexp_replace(F.trim("service"), " ", "_"),
    )
    rec = rec.withColumn("loc_label", loc_label).withColumn("service_label", service_label)

    s20 = saved_family(histograms, "HIST20", "userName", "HIST20_")
    s21 = saved_family(histograms, "HIST21", "userName", "HIST21_")
    s22 = saved_family(histograms, "HIST22", "userName", "HIST22_")
    # no broadcast hint on saved state: per-user histograms grow with the
    # user population — let the planner/AQE pick the strategy by size
    # (see store.saved_family)
    joined = (
        rec.join(s20, "userName", "left")
        .join(s21, "userName", "left")
        .join(s22, "userName", "left")
    )

    sentinel = lambda c: (F.col(c) == "N/A") | (F.col(c) == " ") | (F.col(c) == "")
    near_known = F.exists(
        F.map_keys(F.coalesce("HIST20_labels", F.map_from_arrays(F.array(), F.array()))),
        lambda k: haversine_from_coords(F.col("coords"), k) < cfg.location_radius_km,
    )
    city_event = (
        (F.col("city") != "")
        & (F.coalesce("HIST20_size", F.lit(0)) >= hcfg.gate_auth)
        & (F.coalesce(F.element_at("HIST20_values", F.col("coords")), F.lit(0.0)) <= EPSILON)
        & ~F.col("city").isin(sorted(cfg.location_excluded_cities))
        & ~_ends_with_any(F.col("clientReverse"), list(cfg.location_domain_whitelist))
        & ~near_known
        & ~sentinel("city") & ~sentinel("region") & ~sentinel("country")
    )
    ua_event = (
        F.col("userAgent").isNotNull()
        & (F.col("userAgent") != "")
        & (F.coalesce("HIST21_size", F.lit(0)) >= hcfg.gate_auth)
        & (F.coalesce(F.element_at("HIST21_values", F.col("userAgent")), F.lit(0.0)) <= EPSILON)
        & ~_ends_with_any(F.col("clientReverse"), list(cfg.ua_domain_whitelist))
    )
    if cfg.ua_excluded_cities:  # HogAuth.scala:383-384 (default empty)
        ua_event = ua_event & ~F.col("city").isin(sorted(cfg.ua_excluded_cities))
    # gate reads HIST21 size — reference slip preserved (HogAuth.scala:398)
    service_event = (
        (F.coalesce("HIST21_size", F.lit(0)) >= hcfg.gate_auth)
        & (F.coalesce(F.element_at("HIST22_values", F.col("service_label")), F.lit(0.0)) <= EPSILON)
        & ~_ends_with_any(F.col("clientReverse"), list(cfg.system_domain_whitelist))
    )
    if cfg.system_excluded_cities:  # HogAuth.scala:401-402 (default empty)
        service_event = service_event & ~F.col("city").isin(
            sorted(cfg.system_excluded_cities)
        )
    scored = joined.select(
        "*",
        city_event.alias("cityEvent"),
        ua_event.alias("UAEvent"),
        service_event.alias("systemEvent"),
    ).filter(F.col("cityEvent") | F.col("UAEvent") | F.col("systemEvent"))

    alerts = mk_alert(
        scored,
        SIGNATURES["auth_combined"],
        F.col("clientIP"),
        F.col("agent"),
        F.lit("HZ/Auth: Atypical user access"),
        {
            "userName": F.col("userName"),
            "coords": F.col("coords"),
            "atypicalCities": F.when(
                F.col("cityEvent"),
                F.concat(F.trim("city"), F.lit("/"), F.trim("country")),
            ).otherwise(F.lit("")),
            "atypicalUserAgents": F.when(F.col("UAEvent"), F.col("userAgent")).otherwise(F.lit("")),
            "atypicalServices": F.when(
                F.col("systemEvent"),
                F.concat(F.trim("agent"), F.lit("/"), F.trim("service")),
            ).otherwise(F.lit("")),
            "atypicalVars": F.concat(
                F.when(F.col("systemEvent"), F.lit("S")).otherwise(F.lit("")),
                F.when(F.col("UAEvent"), F.lit("U")).otherwise(F.lit("")),
                F.when(F.col("cityEvent"), F.lit("C")).otherwise(F.lit("")),
            ),
        },
        batch_time,
    )

    def batch_hist(df: DataFrame, bucket: Column, label: Column | None = None):
        per = df.groupBy("userName", bucket.alias("bucket")).agg(
            F.count(F.lit(1)).cast("double").alias("cnt"),
            *( [F.first(label).alias("lbl")] if label is not None else [] ),
        )
        aggs = [
            F.sum("cnt").alias("total"),
            F.map_from_entries(F.collect_list(F.struct("bucket", "cnt"))).alias("raw"),
        ]
        if label is not None:
            aggs.append(
                F.map_from_entries(F.collect_list(F.struct("bucket", "lbl"))).alias("labels")
            )
        out = per.groupBy("userName").agg(*aggs)
        return out.select(
            "userName",
            F.col("total").cast("long").alias("size"),
            F.transform_values("raw", lambda k, v: v / F.col("total")).alias("values"),
            *( [F.col("labels")] if label is not None else [] ),
        )

    upd20 = mk_update(
        batch_hist(rec.filter(F.col("city") != ""), F.col("coords"), F.col("loc_label")),
        "HIST20",
        "userName",
    )
    upd21 = mk_update(
        batch_hist(
            rec.filter(F.col("userAgent").isNotNull() & (F.col("userAgent") != "")),
            F.col("userAgent"),
        ),
        "HIST21",
        "userName",
    )
    upd22 = mk_update(batch_hist(rec, F.col("service_label")), "HIST22", "userName")
    return alerts, upd20.unionByName(upd21, allowMissingColumns=False).unionByName(upd22)
