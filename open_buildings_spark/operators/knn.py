"""kNN lookup by ring-box filter and per-query top-k (north_star J3;
absent in the reference, which the engine adds as a first-class operator).

Plan, per query point and ring by ring (the reference's cheap coarse filter
then exact refinement, download_buildings.py:245-252):
  1. filter the source on the lon/lat box of the z12 tiles within a
     Chebyshev ring of the query tile (one extra lon interval where the box
     crosses the antimeridian) — parquet pushes the ranges into the scan;
  2. exact haversine, then ``orderBy(dist, doc_id).limit(k)`` collected in
     one job (``TakeOrderedAndProject``);
  3. stop once the kth distance is provably smaller than the distance to
     the box boundary, else grow that query's ring.
The result equals brute force (verified against the DuckDB oracle). Many
query points belong in :func:`knn_join`: one distributed plan, cell-cover
equi-join plus a per-point top-k.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import EARTH_R, haversine_m
from ..geo import mercator
from ..session import local_frame

ZOOM = 12
# conservative meters-per-degree LOWER bounds for the ring-boundary
# distance. The haversine sphere (R=6371 km) gives 111194.9 m/deg, so the
# lon term must use a constant BELOW that — the WGS84 equatorial 111320
# overestimated the boundary distance by ~0.1% and could end ring growth
# one neighbor too early
_M_PER_DEG_LAT = 110574.0
_M_PER_DEG_LON_EQ = 111000.0


def anchor_offset_expr(columns) -> Column:
    """Per-row upper bound (meters) on dist(quadkey anchor, ranked point),
    as one native expression over a frame with these ``columns`` — its
    ``max`` is :func:`corpus_anchor_offset_m`, and the table layer folds the
    same ``max`` into the aggregates it already runs over a write batch.

    - **tight** when bbox columns are stored (``minx..maxy`` + lon/lat):
      haversine(bbox midpoint, centroid) — the exact quantity;
    - **conservative** otherwise (quadkey + lon/lat): the anchor lies
      inside tile(quadkey) by construction, so per row
      dist(anchor, centroid) <= max corner distance of that tile from the
      centroid. The tile coords come from the quadkey string natively
      (translate '0123'->x/y bit strings, conv base 2). A 5% slack covers
      the corner-vs-edge maximization of the geodesic rectangle. For point
      corpora this still reports ~a tile diagonal (a few km at z12).
    """
    cols = set(columns)
    if {"minx", "miny", "maxx", "maxy", "lon", "lat"} <= cols:
        return haversine_m(
            (F.col("minx") + F.col("maxx")) / 2.0,
            (F.col("miny") + F.col("maxy")) / 2.0,
            F.col("lon"),
            F.col("lat"),
        )
    if {"quadkey", "lon", "lat"} <= cols:
        z2 = float(1 << ZOOM)
        tx = F.conv(F.translate(F.col("quadkey"), "0123", "0101"), 2, 10).cast("long")
        ty = F.conv(F.translate(F.col("quadkey"), "0123", "0011"), 2, 10).cast("long")
        west = tx / z2 * 360.0 - 180.0
        east = (tx + 1) / z2 * 360.0 - 180.0
        pi = float(math.pi)
        north = F.degrees(F.atan(F.sinh(pi * (1.0 - 2.0 * ty / z2))))
        south = F.degrees(F.atan(F.sinh(pi * (1.0 - 2.0 * (ty + 1) / z2))))
        return F.greatest(
            *[
                haversine_m(cx, cy, F.col("lon"), F.col("lat"))
                for cx in (west, east)
                for cy in (south, north)
            ]
        ) * 1.05
    raise ValueError(
        "anchor_offset_m='auto' needs (minx,miny,maxx,maxy,lon,lat) or "
        "(quadkey,lon,lat) columns to bound the anchor-centroid offset"
    )


def corpus_anchor_offset_m(buildings: DataFrame) -> float:
    """Upper bound (meters) on dist(quadkey anchor, ranked point) over the
    corpus — how far past a point's own tile the anchor-tile layouts (the
    table's cells, :func:`knn_join`'s cover) must reach for footprints
    whose centroid differs from their bbox midpoint. One native aggregate
    of :func:`anchor_offset_expr`, no Python."""
    row = buildings.agg(F.max(anchor_offset_expr(buildings.columns))).collect()[0]
    return float(row[0] or 0.0)


def _ring_cells(qlon: float, qlat: float, ring: int) -> list[str]:
    x, y = mercator.tile(qlon, qlat, ZOOM)
    return [
        mercator.quadkey_from_tile(tx, ty, ZOOM)
        for tx, ty in mercator.tile_neighbors(x, y, ZOOM, ring)
    ]


def _ring_box(qlon: float, qlat: float, ring: int):
    """((west, south, east, north), lon intervals) of the z12 tiles within
    Chebyshev ``ring`` of the query tile. The box is unwrapped (west may be
    below -180, east above 180); the intervals wrap it into [-180, 180],
    one extra interval per side that crosses the antimeridian."""
    x, y = mercator.tile(qlon, qlat, ZOOM)
    west, _, _, north = mercator.tile_bounds(x - ring, y - ring, ZOOM)
    _, south, east, _ = mercator.tile_bounds(x + ring, y + ring, ZOOM)
    lons = [(max(west, -180.0), min(east, 180.0))]
    if west < -180.0:
        lons.append((west + 360.0, 180.0))
    if east > 180.0:
        lons.append((-180.0, east - 360.0))
    return (west, south, east, north), lons


def _boundary_margin_m(qlon: float, qlat: float, ring: int) -> float:
    """Lower bound on distance from the query point to outside the ring."""
    (west, south, east, north), _ = _ring_box(qlon, qlat, ring)
    dlon = min(qlon - west, east - qlon)
    dlat = min(qlat - south, north - qlat)
    coslat = math.cos(math.radians(max(abs(north), abs(south))))
    return max(0.0, min(dlon * _M_PER_DEG_LON_EQ * coslat, dlat * _M_PER_DEG_LAT))


def _pad_tiles(box, off_m: float) -> int:
    """Ring padding, in z12 tiles, that reaches the anchor tile of every doc
    whose ranked point lies in ``box`` and whose anchor is within ``off_m``
    meters of it. A tile's side shrinks with cos(lat), so both axes are
    measured at the box's pole-most latitude widened by ``off_m``; the +1
    covers points on a tile edge."""
    _, south, _, north = box
    dlat = math.degrees(off_m / EARTH_R)  # a great circle spans no more lat
    edge = max(abs(south), abs(north)) + dlat
    # hav(d) >= cos(lat1) cos(lat2) hav(dlon) bounds the lon span
    s = math.sin(off_m / (2.0 * EARTH_R)) / max(math.cos(math.radians(edge)), 1e-12)
    dlon = 360.0 if s >= 1.0 else math.degrees(2.0 * math.asin(s))
    # mercator y grows by sec(lat) per degree; tile y clamps at the limit
    sec = 1.0 / math.cos(math.radians(min(edge, mercator.MERCATOR_LAT_LIMIT)))
    return int(max(dlon, dlat * sec) * (1 << ZOOM) / 360.0) + 1


def _in_box(box, lons) -> Column:
    in_lon = functools.reduce(Column.__or__, [F.col("lon").between(*iv) for iv in lons])
    return F.col("lat").between(box[1], box[3]) & in_lon


def knn(
    spark: SparkSession,
    buildings: DataFrame | None,
    queries: list[tuple[int, float, float]],
    k: int = 5,
    initial_ring: int = 8,
    max_ring: int = 256,
    table_root: str | None = None,
) -> DataFrame:
    """Exact k nearest buildings (haversine meters) per query point.

    ``buildings``: DataFrame with (doc_id, lon, lat) — the enriched docs
    table. ``queries``: small list of (query_id, lon, lat). Returns
    (query_id long, doc_id, rank int); ties broken by doc_id. The result is
    a local relation built from the collected rows, so reading it runs no
    Spark job.

    Each query runs one job per ring: filter the source on the ring's
    lon/lat box, ``orderBy(dist, doc_id).limit(k)``, collect. It is done
    when it has k rows and the kth distance is below the distance to the
    box boundary (:func:`_boundary_margin_m`); else its ring grows 4x, up
    to ``max_ring``. Candidates are selected by the point that is ranked,
    so the check is exact. For many query points use :func:`knn_join`.

    ``initial_ring`` is a pure performance knob (exactness holds at any
    ring): every growth step costs one more job, so starting wider usually
    wins.

    ``table_root``: serving-path mode — ignore ``buildings`` and read only
    the iceberg-lite files of the ring's cells, padded by the tiles that
    cover the table's ``max_anchor_offset_m`` (files are laid out by
    anchor tile; without the stored metric, :func:`corpus_anchor_offset_m`
    scans the table once), then apply the same box filter. Wins when the
    table has many cells.
    """
    if table_root is not None:
        from ..table.iceberg_lite import current_manifest, read_table, read_table_cells

        off = (current_manifest(table_root) or {}).get("metrics", {}).get("max_anchor_offset_m")
        if off is None:
            off = corpus_anchor_offset_m(read_table(spark, table_root))
    src = buildings
    rows = []
    for qid, qlon, qlat in queries:
        qlon, qlat = float(qlon), float(qlat)
        dist = haversine_m(F.col("lon"), F.col("lat"), F.lit(qlon), F.lit(qlat))
        ring = initial_ring
        while True:
            box, lons = _ring_box(qlon, qlat, ring)
            if table_root is not None:
                reach = ring + _pad_tiles(box, float(off))
                # a reach past half the tile columns lists millions of cells
                src = (
                    read_table_cells(spark, table_root, _ring_cells(qlon, qlat, reach))
                    if reach < 1 << (ZOOM - 1)
                    else read_table(spark, table_root)
                )
            top = (
                src.filter(_in_box(box, lons))
                .select("doc_id", dist.alias("dist_m"))
                .orderBy("dist_m", "doc_id")
                .limit(k)
                .collect()
            )
            kth = top[-1]["dist_m"] if top else 0.0
            margin = _boundary_margin_m(qlon, qlat, ring)
            if (len(top) == k and kth < margin) or ring >= max_ring:
                break
            ring *= 4
        rows += [(int(qid), r["doc_id"], i) for i, r in enumerate(top, 1)]
    if src is None:  # table mode with no queries
        src = read_table(spark, table_root)
    doc_type = src.schema["doc_id"].dataType.simpleString()
    return local_frame(spark, rows, f"query_id long, doc_id {doc_type}, rank int")


# ---------------------------------------------------------------------------
# Distributed kNN JOIN — both sides are tables
# ---------------------------------------------------------------------------

# conservative meters-per-degree on the haversine sphere (actual pi*R/180 =
# 111195): dividing by the SMALLER constant yields a LARGER degree margin,
# so the cover can only over-include tiles, never drop a true neighbor
_M_PER_DEG_SAFE = 111000.0
_MAX_ABS_LAT = 85.05  # web-mercator clip


def _tile_x_col(lon, zoom: int):
    """UNCLAMPED x tile index — may be < 0 or >= 2^zoom when the radius
    margin crosses the antimeridian; the cover explode wraps it with pmod
    (clamping instead would silently drop true neighbors across lon=±180,
    where the x axis is cyclic)."""
    n = 1 << zoom
    return F.floor((lon + 180.0) / 360.0 * n).cast("long")


def _tile_y_col(lat, zoom: int):
    n = 1 << zoom
    y01 = (1.0 - F.asinh(F.tan(F.radians(lat))) / math.pi) / 2.0
    t = F.floor(y01 * n).cast("long")
    return F.greatest(F.lit(0).cast("long"), F.least(t, F.lit(n - 1).cast("long")))


def knn_join(
    points: DataFrame,
    docs: DataFrame,
    k: int = 3,
    radius_m: float = 3000.0,
    point_id: str = "place_id",
    anchor_offset_m: float | str = "auto",
) -> DataFrame:
    """Distributed radius-bounded kNN JOIN: for EVERY row of ``points`` the
    ``k`` nearest rows of ``docs`` (haversine meters, centroid-ranked) within
    ``radius_m`` — both sides DataFrames, neither collected nor broadcast.
    This generalizes :func:`knn` (driver-side query list, absent in the
    reference, which only serves one-AOI downloads) to the table-x-table
    shape a feature-enrichment pipeline needs: millions of POIs against a
    planet footprint archive.

    Plan shape (scale audit):
      1. points side: each point natively computes the z12 tile range of its
         radius disc (degree margins from conservative sphere constants, so
         the cover can only over-include) and explodes to those cells —
         plan size O(1) in the point count, cover rows per point =
         ceil(2r/tile)^2 (~4 cells at r=3 km).
      2. hash shuffle equi-join cells x docs on the z12 quadkey (shuffle_hash
         hint: no sort, no broadcast; AQE splits skewed megacity cells).
      3. native haversine + radius filter, then a ``row_number`` top-k
         per point id. Spark plans it as ``WindowGroupLimit`` Partial below
         the point-id exchange and Final above it, so a dense cell never
         funnels one point's candidates into a single reducer. Spark drops
         the partial limit when ``k`` exceeds
         ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000).

    Exactness: a doc whose centroid lies within ``radius_m`` has its quadkey
    anchor within radius_m + anchor_offset_m (``"auto"`` = one corpus
    aggregate, :func:`corpus_anchor_offset_m`), and the cover bbox contains
    every anchor tile within that margin — so the k results per point equal
    brute force over the radius (points with fewer than k docs in range
    return fewer rows; grow ``radius_m`` for unbounded kNN semantics).

    ``points`` needs (point_id, lon, lat); ``docs`` needs
    (doc_id, quadkey[z12], lon, lat). Returns (point_id, doc_id, rank).
    """
    keep = ("doc_id", "quadkey", "lon", "lat", "minx", "miny", "maxx", "maxy")
    docs = docs.select(*[c for c in keep if c in docs.columns])
    if anchor_offset_m == "auto":
        if docs.storageLevel.useMemory is False:
            # the auto-offset aggregate and the join would otherwise each
            # re-run the upstream plan (for parse-enriched corpora that is
            # the whole Arrow parse pass); cache the pruned projection
            # once. With an explicit offset the join is the only scan, so
            # no cache is needed (and none materializes).
            docs = docs.cache()
        anchor_offset_m = corpus_anchor_offset_m(docs)
    margin_m = float(radius_m) + float(anchor_offset_m) + 1.0
    dlat = margin_m / _M_PER_DEG_SAFE  # python float: same margin for all rows
    lat_edge = F.least(F.abs(F.col("_plat")) + dlat, F.lit(_MAX_ABS_LAT))
    dlon = F.lit(margin_m) / (_M_PER_DEG_SAFE * F.cos(F.radians(lat_edge)))

    from ..functions import quadkey_from_tiles_col

    p = points.select(
        F.col(point_id).alias("_pid"),
        F.col("lon").alias("_plon"),
        F.col("lat").alias("_plat"),
    )
    n_tiles, lim = 1 << ZOOM, mercator.MERCATOR_LAT_LIMIT
    p = (
        p.withColumn("_x0", _tile_x_col(F.col("_plon") - dlon, ZOOM))
        # cap the x span at one full ring so a degenerate margin (huge
        # radius at extreme latitude) covers each tile at most once
        .withColumn(
            "_x1",
            F.least(
                _tile_x_col(F.col("_plon") + dlon, ZOOM),
                F.col("_x0") + F.lit(n_tiles - 1).cast("long"),
            ),
        )
        # clamp the margin latitudes to the mercator band BEFORE the tile
        # math: past 90 deg, tan() flips sign and _y0 lands at n-1 while
        # _y1 is 0 — Spark's sequence(4095, 0) then DESCENDS (it is never
        # empty), exploding one polar point into a full 4096-row tile column
        .withColumn("_y0", _tile_y_col(F.least(F.col("_plat") + dlat, F.lit(lim)), ZOOM))
        .withColumn("_y1", _tile_y_col(F.greatest(F.col("_plat") - dlat, F.lit(-lim)), ZOOM))
    )
    cells = (
        p.withColumn("_ctx_raw", F.explode(F.sequence("_x0", "_x1")))
        # wrap at the antimeridian: x is cyclic, so tile -1 is tile n-1
        .withColumn("_ctx", F.pmod(F.col("_ctx_raw"), F.lit(n_tiles).cast("long")))
        .withColumn("_cty", F.explode(F.sequence("_y0", "_y1")))
        .withColumn("quadkey", quadkey_from_tiles_col(F.col("_ctx"), F.col("_cty"), ZOOM))
        .select("_pid", "_plon", "_plat", "quadkey")
    )
    d = docs.select("doc_id", "quadkey", "lon", "lat")
    cand = d.join(cells.hint("shuffle_hash"), "quadkey")
    dist = haversine_m(F.col("lon"), F.col("lat"), F.col("_plon"), F.col("_plat"))
    scored = cand.withColumn("_dist", dist).filter(F.col("_dist") <= radius_m)
    w = Window.partitionBy("_pid").orderBy(F.col("_dist").asc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_pid").alias(point_id), "doc_id", "rank")
    )
