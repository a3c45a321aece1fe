"""Scalar function library (SURVEY.md §2.8 F1-F15).

All implemented as native expressions (JVM-side, codegen-able) — no
Python UDFs in the hot path.  Semantics match the reference where it
matters (sentinels, error defaults), with citations.

The larger functions (humanBytes, `ip_to_bytes`, `is_my_ip`, the
user-agent family) have ONE implementation each: a `*_sql` builder that
returns Spark SQL text over an expression text `x`.  Hot paths splice
that text into one parsed selectExpr (a Column-API chain costs one py4j
round trip per node — ~0.1 s per humanBytes call site and ~1.1 s per
ua_family compile, r12 profile); `ip_to_bytes` and `is_my_ip` are
one-line `F.expr(...)` wrappers over the same builder.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c

def round6u(c: Column, digits: int = 6) -> Column:
    """Engine-portable half-up rounding for NONNEGATIVE doubles:
    floor(x·10^d + 0.5) / 10^d.

    Why not F.round: Spark's round is BigDecimal HALF_UP over the
    double's EXACT decimal expansion, while DuckDB's ROUND goes through
    float math — at a value whose decimal expansion sits at an exact
    half (e.g. 19/640 = 0.0296875, whose nearest double is just BELOW
    the half while ×1e6 rounds to exactly 29687.5) the two engines
    round to DIFFERENT 6-digit values.  Found by the sf100 doc_quality
    digest (r11): 1 026 of 5 M docs diverged, all small-integer ratios.
    floor(x·1e6 + 0.5)/1e6 is the same IEEE multiply/add/floor/divide
    in both engines — bit-identical at any scale — and matches the
    convention the numpy kernels already use (_round6_select).  Use it
    for any oracle-compared column whose value is a ratio of small
    integers; the SQL twin must spell floor(x*1e6 + 0.5)/1e6.
    Half-up (toward +inf), so for NONNEGATIVE inputs only — negative
    inputs would round toward zero at halves, unlike ROUND's
    half-away."""
    p = float(10 ** digits)
    return F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(p)

# --- F1: humanBytes (HogSFlow.scala:744-752) --------------------------------

_UNITS = ["b", "K", "M", "G", "T", "P"]

def sql_quote(s: str) -> str:
    """Python string → Spark SQL single-quoted literal (default
    escapedStringLiterals=false backslash escaping)."""
    return (
        "'"
        + s.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n")
        + "'"
    )

def human_bytes_sql(x: str) -> str:
    """bytes → "1.5G"-style display string (presentation only), as SQL
    text over the expression text `x`.

    Mirrors HogSFlow.humanBytes: log-1024 bucket, one decimal.
    """
    c = f"CAST({x} AS DOUBLE)"
    exp = (
        f"CAST(least(CASE WHEN {c} < 1024 THEN 0 ELSE "
        f"floor(ln({c}) / ln(1024.0D)) END, {len(_UNITS) - 1}) AS INT)"
    )
    units = "array(" + ", ".join(sql_quote(u) for u in _UNITS) + ")"
    scaled = f"{c} / power(1024.0D, CAST({exp} AS DOUBLE))"
    return (
        f"concat(format_number({scaled}, 1), element_at({units}, {exp} + 1))"
    )

# --- F2: formatIPtoBytes (HogSFlow.scala:715-722, HogEvent.scala:44-58) -----

def ip_to_bytes_sql(x: str) -> str:
    """Dotted-quad → 4-byte binary; IPv6 → 255.255.6.6; bogus →
    255.255.1.1, as SQL text over the expression text `x`.

    Keeps the reference's sentinel semantics exactly; per-octet
    try_cast/get stay null-tolerant under ANSI mode.
    """
    octets = ", ".join(
        f"lpad(conv(CAST(try_cast(get(split({x}, '\\\\.'), {i}) AS INT) "
        f"AS STRING), 10, 16), 2, '0')"
        for i in range(4)
    )
    v4_pat = sql_quote(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    return (
        f"CASE WHEN {x} RLIKE {v4_pat} THEN unhex(concat({octets})) "
        f"WHEN contains({x}, ':') THEN unhex('FFFF0606') "
        f"ELSE unhex('FFFF0101') END"
    )

def ip_to_bytes(x: str) -> Column:
    return F.expr(ip_to_bytes_sql(x))

# --- F3: ipSignificantNetwork (HogSFlow.scala:733-742) ----------------------

def ip_significant_network(c: Column | str) -> Column:
    """Drop the last octet (IPv4) / last hextet (IPv6) → "/24-ish" prefix.

    "10.1.2.3" → "10.1.2."; "a:b::c:d" → "a:b::c:"; other → unchanged.
    """
    c = _col(c)
    v4 = F.regexp_replace(c, r"[^.]*$", "")  # strip text after last '.'
    v6 = F.regexp_replace(c, r"[^:]*$", "")
    return (
        F.when(c.contains("."), v4).when(c.contains(":"), v6).otherwise(c)
    )

# --- F4/P6: isMyIP prefix test (HogSFlow.scala:725-731) ---------------------

def is_my_ip_sql(x: str, my_nets: list[str]) -> str:
    """ip startsWith any(myNets), as parenthesized SQL text over the
    expression text `x`.  For small operator-managed prefix lists this
    is an OR chain of startswith — Catalyst keeps it codegen'd.  For
    large lists use operators.joins.prefix_match_col instead.
    """
    if not my_nets:
        return "(false)"
    return "(" + " OR ".join(
        f"startswith({x}, {sql_quote(p)})" for p in my_nets
    ) + ")"

def is_my_ip(x: str, my_nets: list[str]) -> Column:
    return F.expr(is_my_ip_sql(x, my_nets))

# --- F5: log-scale binning (HogSFlow.scala:1791,1898,2009) ------------------

def log_bin(c: Column | str, scale: float = 1.0) -> Column:
    """floor(ln(x*scale + 1)) — the reference's histogram bucketing."""
    return F.floor(F.log(_col(c).cast("double") * F.lit(scale) + F.lit(1.0)))

# --- F6: haversine (HogGeograph.scala:35-58) --------------------------------

EARTH_RADIUS_KM = 6371.0
HAVERSINE_ERROR_SENTINEL = 999999999.0

def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km, native trig expressions."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))

def haversine_from_coords(c1: Column | str, c2: Column | str) -> Column:
    """Distance between two "lat,lon" strings; parse failure → 999999999
    (reference error sentinel, HogGeograph.scala:55-57)."""
    c1, c2 = _col(c1), _col(c2)
    def latlon(c):
        # F.get is null-tolerant (no ANSI out-of-bounds error on bad input)
        parts = F.split(c, ",")
        return (
            F.get(parts, 0).try_cast("double"),
            F.get(parts, 1).try_cast("double"),
        )
    lat1, lon1 = latlon(c1)
    lat2, lon2 = latlon(c2)
    d = haversine_km(lat1, lon1, lat2, lon2)
    return F.coalesce(d, F.lit(HAVERSINE_ERROR_SENTINEL))

# --- F8: accent stripping (HogAuth.scala:299-303) ---------------------------

_ACCENTED = "áàâãäéèêëíìîïóòôõöúùûüçñýÁÀÂÃÄÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÇÑÝ"
_PLAIN = "aaaaaeeeeiiiiooooouuuucnyAAAAAEEEEIIIIOOOOOUUUUCNY"

def strip_accents(c: Column | str) -> Column:
    """Latin-1-range accent folding via translate (covers the pt-BR data the
    reference targets; full NFD folding would need a UDF)."""
    return F.translate(_col(c), _ACCENTED, _PLAIN)

# --- F9: user-agent family (HogAuth.scala:293-298) --------------------------

# The reference runs uap-scala's Parser.default over the public
# uap-core regexes.yaml data set and keeps only `family`
# (HogAuth.scala:293-298).  Here the same model is DATA-DRIVEN: the
# ordered parser tables live in functions/ua_data.py in uap-core's
# regexes.yaml shape ({regex, family_replacement?/os_replacement?},
# first match wins, missing replacement -> first capture group, "$1"
# substitutes it), and compile at plan-build time into one chained
# CASE of `rlike`s / `regexp_extract`s — whole-stage codegen, no UDF.
# Swapping in the full uap-core dataset is a ua_data.py-only change.

def _compile_parsers_sql(
    x: str, parsers: list[dict[str, str]], replacement_key: str
) -> str:
    """One parser table as a flat first-match-wins CASE over the
    expression text `x`: missing replacement → capture group 1, "$1"
    substitutes it, no match → "Other".  One CASE with a WHEN arm per
    rule, not a CASE nested in each ELSE: a cold session parses and
    analyses the ~100-deep nesting about 1.5 s slower (4-vCPU VM)."""
    arms = []
    for p in parsers:
        rx = sql_quote(p["regex"])
        repl = p.get(replacement_key)
        if repl is None:
            fam = f"regexp_extract({x}, {rx}, 1)"
        elif "$1" in repl:
            pre, post = repl.split("$1", 1)
            fam = (
                f"concat({sql_quote(pre)}, regexp_extract({x}, {rx}, 1), "
                f"{sql_quote(post)})"
            )
        else:
            fam = sql_quote(repl)
        arms.append(f"WHEN {x} RLIKE {rx} THEN {fam}")
    return f"CASE {' '.join(arms)} ELSE 'Other' END"

def ua_family_sql(x: str) -> str:
    """Raw user-agent → "OS family/browser family" label, the value the
    reference stores per auth event (uap-scala Parser.default → family
    only, HogAuth.scala:293-298), as SQL text over the expression text
    `x`.  Ordered first-match-wins regex rules in the uap-core style;
    unknown sides → "Other"; empty/null → "" (the reference
    short-circuits length==0 to "")."""
    from hogzilla_spark.functions.ua_data import OS_PARSERS, USER_AGENT_PARSERS

    os_side = _compile_parsers_sql(x, OS_PARSERS, "os_replacement")
    ua_side = _compile_parsers_sql(x, USER_AGENT_PARSERS, "family_replacement")
    return (
        f"CASE WHEN ({x} IS NULL OR {x} = '') THEN '' "
        f"ELSE concat({os_side}, '/', {ua_side}) END"
    )

# --- F14: tcpFlags hex literals (HogSFlow.scala:818-831) --------------------
# the reference compares the raw string, not a bitmask, so do the rollups

TCP_SYN = "0x02"
TCP_SYNACK = "0x12"
TCP_PSHACK = "0x18"
TCP_ACK = "0x10"
