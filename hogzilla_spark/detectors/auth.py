"""Auth-profiling analytics (SURVEY.md §2.11 826001201-04;
HogAuth.scala:257-435).

Per-user behavioral state in three families: HIST20 coords (labels =
"city/country"), HIST21 user-agent family, HIST22 "agent/service".
Learn gate 10; scoring guards: excluded cities, reverse-DNS whitelists,
and the 300 km haversine radius against every saved location.

The reference processes records one-by-one with per-record HBase
get/merge; the engine scores the whole batch against saved state with
one join to the touched users' HIST20-22 rows, derives all three
families' updates from one aggregate, and emits one combined
per-user-record alert row (sig 826001204 — the only live alert path,
:414-432).

Reference-parity note: the service branch's learn gate reads the
USER-AGENT histogram size (HogAuth.scala:398 — a copy/paste slip in the
reference); we reproduce actual behavior and flag it here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hogzilla_spark.config import AuthConfig, HistogramConfig
from hogzilla_spark.detectors.base import SIGNATURES, mk_alert
from hogzilla_spark.functions.scalar import (
    haversine_from_coords,
    sql_quote,
    strip_accents,
    ua_family_sql,
)
from hogzilla_spark.operators.histogram import EPSILON
from hogzilla_spark.state.store import mk_update, saved_families

def prepare_auth(auth: DataFrame, ua_count_hint: int | None = None) -> DataFrame:
    """Projection + validity filter (HogAuth.scala:272-316): accents
    stripped, UA parsed to family, coords sanity, non-empty user.

    Not fully lazy by default: unless `ua_count_hint` is given, it
    runs ONE eager Spark job (the shuffle-free
    ``approx_count_distinct`` probe below) at plan-construction time
    to pick the dictionary-join strategy.  A caller that already
    aggregates its input passes the estimate instead:
    streaming/auth_stream.py takes it from the same aggregate that
    counts the micro-batch, so the gate reads the rows it plans and no
    probe job runs.

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

def _not_in_sql(x: str, values: frozenset[str]) -> str:
    """`x` is none of `values`, as SQL text (true for an empty set)."""
    return f"NOT {x} IN ({', '.join(map(sql_quote, sorted(values)))})" if values else "true"

def _not_ends_with_sql(x: str, suffixes: frozenset[str]) -> str:
    """`x` ends with none of `suffixes`, as SQL text."""
    return " AND ".join(["true"] + [f"NOT endswith({x}, {sql_quote(s)})" for s in sorted(suffixes)])

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
    (combined alerts 826001204, state updates for HIST20/21/22).

    The records join, once, the saved HIST20-22 rows of the users they
    touch, pivoted to user grain (store.saved_families).  The updates
    of all three families come from one two-level aggregate keyed by
    family and user.  The expressions are parsed from SQL text, with
    the haversine test bound first (mk_alert's shape): a Column-API
    build of these plans costs ~4,500 py4j round trips per call."""
    label = lambda a, b: (
        f"concat(regexp_replace(trim({a}), ' ', '_'), '/', regexp_replace(trim({b}), ' ', '_'))"
    )
    rec = rec.selectExpr(
        "*", f"{label('city', 'country')} AS loc_label",
        f"{label('agent', 'service')} AS service_label",
    )
    saved = saved_families(
        histograms, ["HIST20", "HIST21", "HIST22"], "userName", rec.select("userName")
    )
    atypical = lambda hist, key: (
        f"coalesce(element_at({hist}_values, {key}), 0.0D) <= CAST({EPSILON!r} AS DOUBLE)"
    )
    learned = lambda hist: f"coalesce({hist}_size, 0) >= {hcfg.gate_auth}"
    not_sentinel = lambda c: _not_in_sql(c, frozenset({"N/A", " ", ""}))
    # the one haversine implementation is a Column expression
    near_known = F.exists(
        F.map_keys(F.coalesce("HIST20_labels", F.map_from_arrays(F.array(), F.array()))),
        lambda k: haversine_from_coords(F.col("coords"), k) < cfg.location_radius_km,
    )
    city_event = " AND ".join([
        "city <> ''", learned("HIST20"), atypical("HIST20", "coords"),
        _not_in_sql("city", cfg.location_excluded_cities),
        _not_ends_with_sql("clientReverse", cfg.location_domain_whitelist),
        "NOT __near_known",
        not_sentinel("city"), not_sentinel("region"), not_sentinel("country"),
    ])
    # HogAuth.scala:383-384 and :401-402: per-branch excluded cities
    # (empty by default)
    ua_event = " AND ".join([
        "userAgent IS NOT NULL", "userAgent <> ''", learned("HIST21"),
        atypical("HIST21", "userAgent"),
        _not_ends_with_sql("clientReverse", cfg.ua_domain_whitelist),
        _not_in_sql("city", cfg.ua_excluded_cities),
    ])
    # gate reads HIST21 size — reference slip preserved (HogAuth.scala:398)
    service_event = " AND ".join([
        learned("HIST21"), atypical("HIST22", "service_label"),
        _not_ends_with_sql("clientReverse", cfg.system_domain_whitelist),
        _not_in_sql("city", cfg.system_excluded_cities),
    ])
    scored = (
        rec.join(saved, "userName", "left")
        .select("*", near_known.alias("__near_known"))
        .selectExpr(
            "*", f"{city_event} AS cityEvent", f"{ua_event} AS UAEvent",
            f"{service_event} AS systemEvent",
        )
        .where("cityEvent OR UAEvent OR systemEvent")
    )
    flag = lambda event, then: F.expr(f"CASE WHEN {event} THEN {then} ELSE '' END")
    alerts = mk_alert(
        scored,
        SIGNATURES["auth_combined"],
        F.col("clientIP"),
        F.col("agent"),
        F.lit("HZ/Auth: Atypical user access"),
        {
            "userName": F.col("userName"),
            "coords": F.col("coords"),
            "atypicalCities": flag("cityEvent", "concat(trim(city), '/', trim(country))"),
            "atypicalUserAgents": flag("UAEvent", "userAgent"),
            "atypicalServices": flag("systemEvent", "concat(trim(agent), '/', trim(service))"),
            "atypicalVars": F.expr(
                "concat(CASE WHEN systemEvent THEN 'S' ELSE '' END, "
                "CASE WHEN UAEvent THEN 'U' ELSE '' END, "
                "CASE WHEN cityEvent THEN 'C' ELSE '' END)"
            ),
        },
        batch_time,
    )

    # one (family, user, bucket) row per record and family it updates:
    # HIST20 city-bearing records by coords (labelled "city/country"),
    # HIST21 records with a user agent, HIST22 every record
    entry = lambda fam, bucket, lbl, keep: (
        f"named_struct('family', '{fam}', 'bucket', {bucket}, 'label', {lbl}, 'keep', {keep})"
    )
    no_label = "CAST(NULL AS STRING)"
    hist = (
        rec.selectExpr("userName", "inline(array(" + ", ".join([
            entry("HIST20", "coords", "loc_label", "city <> ''"),
            entry("HIST21", "userAgent", no_label, "userAgent IS NOT NULL AND userAgent <> ''"),
            entry("HIST22", "service_label", no_label, "true"),
        ]) + "))")
        .where("keep")
        .groupBy("family", "userName", "bucket")
        .agg(F.expr("CAST(count(1) AS DOUBLE) AS cnt"), F.expr("first(label) AS label"))
        .groupBy("family", "userName")
        .agg(
            F.expr("sum(cnt) AS total"),
            F.expr("map_from_entries(collect_list(struct(bucket, cnt))) AS raw"),
            F.expr("map_from_entries(collect_list(struct(bucket, label))) AS labels"),
        )
        .selectExpr(
            "family", "userName", "CAST(total AS BIGINT) AS size",
            "transform_values(raw, (k, v) -> v / total) AS values",
            "map_filter(labels, (k, v) -> v IS NOT NULL) AS labels",
        )
    )
    return alerts, mk_update(hist, F.col("family"), "userName")
