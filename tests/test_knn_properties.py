"""Property tests for the plain-Python math behind exact kNN (numpy, no Spark).

``knn.knn`` filters candidates on the lon/lat box of a ring of z12 tiles
and stops when the kth distance is below ``_boundary_margin_m``; in
``table_root`` mode it reads the ring's cells padded by ``_pad_tiles``.
These properties are what makes that exact:

- every point outside the box (lon wrapped at the antimeridian) is at
  least the boundary margin away from the query;
- the box's wrapped lon intervals cover exactly the tile columns of
  ``mercator.tile_neighbors``;
- a doc whose ranked point is in the box and whose anchor is within the
  stored offset bound has its anchor tile inside the padded ring.

Queries range over |lat| <= 85.05 and include points within 0.01 deg of
lon +-180 and lat +-85.
"""

import math

import numpy as np
from hypothesis import HealthCheck, given, settings, strategies as st

from open_buildings_spark.functions import EARTH_R
from open_buildings_spark.geo import mercator
from open_buildings_spark.operators import knn

FAST = settings(
    max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
Z2 = 1 << knn.ZOOM
RINGS = st.sampled_from([1, 2, 8, 32, 128, 256])
QLON = st.one_of(
    st.floats(-180.0, 180.0),
    st.floats(179.99, 180.0),
    st.floats(-180.0, -179.99),
)
QLAT = st.one_of(
    st.floats(-85.05, 85.05),
    st.floats(84.99, 85.05),
    st.floats(-85.05, -84.99),
)
UNIT = st.floats(0.0, 1.0)


def hav_m(lon1, lat1, lon2, lat2):
    """The haversine of ``functions.haversine_m``, in numpy."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = np.sin((p2 - p1) / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(
        np.radians(lon2 - lon1) / 2.0
    ) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def wrap(lon):
    return (np.asarray(lon) + 180.0) % 360.0 - 180.0


def in_box(box, lons, lon, lat):
    """The predicate of ``knn._in_box``, in numpy."""
    in_lon = np.zeros(np.shape(lon), dtype=bool)
    for lo, hi in lons:
        in_lon |= (lon >= lo) & (lon <= hi)
    return (lat >= box[1]) & (lat <= box[3]) & in_lon


@FAST
@given(QLON, QLAT, RINGS, UNIT, st.floats(0.0, 2.0))
def test_points_outside_the_box_are_beyond_the_margin(qlon, qlat, ring, u, far):
    """Points from 1e-9 to ``far`` degrees beyond each side of the box,
    along the whole side and level with the query (the nearest spot): those
    outside the box are no closer than the margin."""
    box, lons = knn._ring_box(qlon, qlat, ring)
    west, south, east, north = box
    margin = knn._boundary_margin_m(qlon, qlat, ring)
    frac = (u + np.linspace(0.0, 1.0, 64)) % 1.0
    along_lat = np.append(south + (north - south) * frac, qlat)[None, :]
    along_lon = np.append(west + (east - west) * frac, qlon)[None, :]
    step = np.append(1e-9, far * np.linspace(0.0, 1.0, 9)[1:])[:, None]
    for lon, lat in (
        (west - step, along_lat),
        (east + step, along_lat),
        (along_lon, south - step),
        (along_lon, north + step),
    ):
        lon, lat = np.broadcast_arrays(wrap(lon), np.clip(lat, -90.0, 90.0))
        out = ~in_box(box, lons, lon, lat)
        d = hav_m(lon[out], lat[out], qlon, qlat)
        assert (d >= margin).all(), (d.min(), margin)


@FAST
@given(QLON, QLAT, RINGS)
def test_box_lon_intervals_match_tile_neighbors(qlon, qlat, ring):
    _, lons = knn._ring_box(qlon, qlat, ring)
    x, y = mercator.tile(qlon, qlat, knn.ZOOM)
    want = {tx for tx, _ in mercator.tile_neighbors(x, y, knn.ZOOM, ring)}
    mids = (np.arange(Z2) + 0.5) / Z2 * 360.0 - 180.0
    got = np.zeros(Z2, dtype=bool)
    for lo, hi in lons:
        got |= (mids >= lo) & (mids <= hi)
    assert set(np.flatnonzero(got).tolist()) == want


@FAST
@given(
    QLON,
    QLAT,
    RINGS,
    UNIT,
    UNIT,
    st.floats(-0.3, 0.3),
    st.floats(-0.3, 0.3),
)
def test_padded_ring_holds_every_anchor_of_a_doc_in_the_box(
    qlon, qlat, ring, u, v, dlon, dlat
):
    """The anchor is generated up to 0.3 deg from the centroid on each
    axis; the stored bound is their exact haversine offset. The tile set
    checked is the one ``_ring_cells`` turns into quadkeys."""
    box, _ = knn._ring_box(qlon, qlat, ring)
    west, south, east, north = box
    clon = float(wrap(west + (east - west) * u))
    clat = float(np.clip(south + (north - south) * v, -90.0, 90.0))
    alon = float(wrap(clon + dlon))
    alat = float(np.clip(clat + dlat, -90.0, 90.0))
    off = float(hav_m(clon, clat, alon, alat))
    reach = ring + knn._pad_tiles(box, off)
    x, y = mercator.tile(qlon, qlat, knn.ZOOM)
    ax, ay = mercator.tile(alon, alat, knn.ZOOM)
    # the Chebyshev test tile_neighbors applies, x wrapping, y clamped
    dx = min((ax - x) % Z2, (x - ax) % Z2)
    assert dx <= reach and abs(ay - y) <= reach, (reach, dx, ay - y)
    if reach <= 8:
        cells = set(knn._ring_cells(qlon, qlat, reach))
        assert mercator.quadkey_from_tile(ax, ay, knn.ZOOM) in cells


def test_pad_reaches_the_offset_at_every_latitude():
    """A one-tile box at the equator and near the mercator limit: the pad
    grows as tiles shrink with cos(lat)."""
    eq, _ = knn._ring_box(0.0, 0.0, 0)
    polar, _ = knn._ring_box(0.0, 85.0, 0)
    tile_m = 2 * math.pi * EARTH_R / Z2
    assert knn._pad_tiles(eq, 0.0) == 1
    assert knn._pad_tiles(eq, 3 * tile_m) >= 4
    assert knn._pad_tiles(polar, 3 * tile_m) > knn._pad_tiles(eq, 3 * tile_m)
