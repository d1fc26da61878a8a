"""Native Column-expression helpers (JVM-side, whole-stage-codegen friendly).

Anything expressible with built-in ``pyspark.sql.functions`` lives here so it
never leaves the JVM: the reference's ``midpoint`` UDF
(open_buildings/overture/add_columns.py:27-28), quadkey prefix predicates
(download_buildings.py:249), SUBSTR-prefix cells (overture/partition.py:112),
and the haversine kNN metric.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_R = 6371008.8


def midpoint(a: Column, b: Column) -> Column:
    """(a + b) / 2 — replaces the reference's Python UDF with a native expr."""
    return (a + b) / 2.0


def quadkey_prefix_filter(qk: Column, prefix: str) -> Column:
    """`quadkey LIKE '<prefix>%'` coarse spatial filter; matches everything
    when the covering quadkey is '' (AOI straddling tile boundaries)."""
    if prefix == "":
        return F.lit(True)
    return qk.startswith(prefix)


def quadkey_from_tiles_col(tx: Column, ty: Column, zoom: int) -> Column:
    """Quadkey string from integer tile columns at ``zoom`` — pure JVM bit
    interleave (one digit per level, MSB first), whole-stage-codegen'd."""
    parts = []
    for k in range(zoom - 1, -1, -1):
        d = (F.shiftright(tx, k) % 2) + (F.shiftright(ty, k) % 2) * 2
        parts.append(d.cast("string"))
    return F.concat(*parts)


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters (mean-sphere radius), pure Column expr.

    Keep textually in sync with the DuckDB oracle (`haversine_sql`)."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    a = (
        F.pow(F.sin((rlat2 - rlat1) / 2.0), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2.0), 2)
    )
    return 2.0 * EARTH_R * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """DuckDB SQL text of the identical haversine formula."""
    return (
        f"2e0 * {EARTH_R!r} * asin(sqrt(least("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2e0), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin((radians({lon2}) - radians({lon1})) / 2e0), 2), 1e0)))"
    )
