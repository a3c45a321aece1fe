from hogzilla_spark.functions.scalar import (  # noqa: F401
    haversine_km,
    haversine_from_coords,
    ip_significant_network,
    ip_to_bytes,
    is_my_ip,
    log_bin,
    strip_accents,
)
