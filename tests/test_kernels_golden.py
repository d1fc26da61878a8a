"""Golden unit tests pinning the numpy kernels to the reference's exact
semantics (reference: tests/test_open_buildings.py:58-68)."""

import numpy as np
import pandas as pd
import pytest

from open_buildings_spark.geo import kernels, mercator, olc
from open_buildings_spark.geo.wkt import (
    geojson_geometry_to_wkt,
    multipolygon_wkt,
    parse_wkb_batch,
    parse_wkt_batch,
    polygon_wkb,
    polygon_wkt,
)
from tests.fixtures import (
    GLOBAL_STRADDLE_AOI,
    LONDON_QUADKEY,
    LONDON_TILE_FEATURE,
    SEYCHELLES_AOI,
    SEYCHELLES_QUADKEY,
    SEYCHELLES_WKT,
)


def test_geojson_to_quadkey_golden():
    assert mercator.geojson_to_quadkey(SEYCHELLES_AOI) == SEYCHELLES_QUADKEY


def test_geojson_to_quadkey_straddle_returns_empty():
    assert mercator.geojson_to_quadkey(GLOBAL_STRADDLE_AOI) == ""


def test_geojson_to_wkt_golden():
    assert geojson_geometry_to_wkt(SEYCHELLES_AOI["geometry"]) == SEYCHELLES_WKT


def test_quadkey_to_geojson_golden():
    got = mercator.quadkey_to_geojson(LONDON_QUADKEY)
    exp = LONDON_TILE_FEATURE
    assert got["type"] == "Feature"
    g = np.array(got["geometry"]["coordinates"][0])
    e = np.array(exp["geometry"]["coordinates"][0])
    assert np.allclose(g, e, rtol=0, atol=1e-12)


def test_quadkey_roundtrip():
    for qk in [SEYCHELLES_QUADKEY, LONDON_QUADKEY, "0", "3333", "0123012301"]:
        x, y, z = mercator.tile_from_quadkey(qk)
        assert mercator.quadkey_from_tile(x, y, z) == qk


def test_vectorized_quadkey_matches_scalar():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-80, 80, 500)
    vec = mercator.lonlat_to_quadkey_np(lon, lat, 12)
    for i in range(0, 500, 17):
        assert vec[i] == mercator.lat_lon_to_quadkey(lat[i], lon[i], 12)


def test_lat_lon_to_quadkey_seychelles_center():
    # center of the Seychelles AOI must land in the AOI's covering tile
    lat = (-4.6227964300457245 + -4.623440862045413) / 2
    lon = (55.45280573412927 + 55.453376761871795) / 2
    assert mercator.lat_lon_to_quadkey(lat, lon, 12) == SEYCHELLES_QUADKEY


def test_wkt_parse_simple_polygon():
    b = parse_wkt_batch(pd.Series([SEYCHELLES_WKT]))
    assert b.n_geoms == 1 and b.n_rings == 1
    assert b.gtype[0] == 3
    assert b.ring(0).shape == (5, 2)
    assert b.ring(0)[0, 0] == 55.45280573412927


def test_wkt_roundtrip_polygon():
    b = parse_wkt_batch(pd.Series([SEYCHELLES_WKT]))
    assert polygon_wkt([b.ring(0)]) == SEYCHELLES_WKT


def test_wkt_parse_multipolygon_with_hole():
    w = multipolygon_wkt(
        [
            [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]],
            [[[10, 10], [11, 10], [11, 11], [10, 10]]],
        ]
    )
    b = parse_wkt_batch(pd.Series([w]))
    assert b.gtype[0] == 6
    assert b.n_rings == 3
    assert list(b.ring_is_hole) == [False, True, False]
    assert b.ring(1)[0, 0] == 1.0


def test_wkt_parse_nulls_and_mixed():
    s = pd.Series([None, "", SEYCHELLES_WKT, "POINT (1.5 -2.5)"])
    b = parse_wkt_batch(s)
    assert list(b.gtype) == [-1, -1, 3, 1]
    assert b.ring(1).tolist() == [[1.5, -2.5]]


def test_wkb_roundtrip():
    shell = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
    hole = [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]
    buf = polygon_wkb([shell, hole])
    b = parse_wkb_batch(pd.Series([buf]))
    assert b.gtype[0] == 3
    assert b.n_rings == 2
    assert bool(b.ring_is_hole[1])
    assert np.allclose(b.ring(0), shell)


def test_centroid_square():
    b = parse_wkt_batch(pd.Series([polygon_wkt([[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]])]))
    c = kernels.centroids(b)
    assert np.allclose(c, [[1.0, 1.0]])


def test_centroid_with_hole_shifts():
    # hole in the right half pulls the centroid left
    shell = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
    hole = [[2, 1], [3, 1], [3, 3], [2, 3], [2, 1]]
    b = parse_wkt_batch(pd.Series([polygon_wkt([shell, hole])]))
    c = kernels.centroids(b)
    assert c[0, 0] < 2.0
    assert np.isclose(c[0, 1], 2.0)


def test_bbox_and_midpoint():
    b = parse_wkt_batch(pd.Series([SEYCHELLES_WKT]))
    bb = kernels.bboxes(b)
    assert np.isclose(bb[0, 0], 55.45280573412927)
    mid = kernels.bbox_midpoints(b)
    assert np.isclose(mid[0, 0], (55.45280573412927 + 55.453376761871795) / 2)


def test_within_semantics():
    aoi = [(np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]), False)]
    wkts = [
        polygon_wkt([[[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]]),        # inside
        polygon_wkt([[[9, 9], [11, 9], [11, 11], [9, 11], [9, 9]]]),     # straddles
        polygon_wkt([[[20, 20], [21, 20], [21, 21], [20, 21], [20, 20]]]),  # outside
        polygon_wkt([[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]),         # touches from inside
        polygon_wkt([[[-1, 0], [0, 0], [0, 1], [-1, 1], [-1, 0]]]),      # touches from outside
    ]
    b = parse_wkt_batch(pd.Series(wkts))
    m = kernels.within_mask(b, aoi)
    assert m.tolist() == [True, False, False, True, False]


def test_intersects_semantics():
    country = [(np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]), False)]
    wkts = [
        polygon_wkt([[[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]]),          # inside
        polygon_wkt([[[9, 9], [11, 9], [11, 11], [9, 11], [9, 9]]]),       # straddles -> True
        polygon_wkt([[[20, 20], [21, 20], [21, 21], [20, 21], [20, 20]]]), # outside
        polygon_wkt([[[-1, -1], [11, -1], [11, 11], [-1, 11], [-1, -1]]]), # contains country
        polygon_wkt([[[10, 0], [11, 0], [11, 1], [10, 1], [10, 0]]]),      # edge touch -> True
    ]
    b = parse_wkt_batch(pd.Series(wkts))
    m = kernels.intersects_mask(b, country)
    assert m.tolist() == [True, True, False, True, True]


def test_within_concave_aoi_rejects_crossing():
    # concave (L-shaped) AOI: a square whose vertices are all inside the
    # bounding region but which crosses the notch must be rejected
    aoi = [
        (
            np.array(
                [[0.0, 0], [10, 0], [10, 10], [6, 10], [6, 4], [4, 4], [4, 10], [0, 10], [0, 0]]
            ),
            False,
        )
    ]
    wkts = [
        polygon_wkt([[[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]]),        # inside left leg
        polygon_wkt([[[3, 5], [7, 5], [7, 6], [3, 6], [3, 5]]]),        # spans the notch
    ]
    b = parse_wkt_batch(pd.Series(wkts))
    m = kernels.within_mask(b, aoi)
    assert m.tolist() == [True, False]


def test_pip_random_points_vs_winding_oracle():
    """Property test: vectorized raycast agrees with an independent
    winding-number oracle on random points vs a random convex polygon."""
    rng = np.random.default_rng(42)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 12))
    poly = np.column_stack([np.cos(ang), np.sin(ang)]) * rng.uniform(1, 3)
    poly = np.vstack([poly, poly[0]])
    pts = rng.uniform(-3, 3, size=(500, 2))

    def winding(p):
        wn = 0
        for i in range(len(poly) - 1):
            x0, y0 = poly[i]
            x1, y1 = poly[i + 1]
            if y0 <= p[1]:
                if y1 > p[1] and (x1 - x0) * (p[1] - y0) - (y1 - y0) * (p[0] - x0) > 0:
                    wn += 1
            elif y1 <= p[1] and (x1 - x0) * (p[1] - y0) - (y1 - y0) * (p[0] - x0) < 0:
                wn -= 1
        return wn != 0

    strict, onb = kernels.points_in_polygon(pts, [(poly, False)])
    oracle = np.array([winding(p) for p in pts])
    disagree = (strict | onb) != oracle
    assert disagree.sum() == 0


def test_area_6933_square_near_equator():
    # 0.01 x 0.01 degree square at the equator: ~1.1132 km per 0.01 deg
    side = 0.01
    w = polygon_wkt([[[0, 0], [side, 0], [side, side], [0, side], [0, 0]]])
    b = parse_wkt_batch(pd.Series([w]))
    a = kernels.area_6933(b)[0]
    # 0.01 deg lon ~ 1113.19 m; 0.01 deg lat ~ 1105.74 m at the equator (WGS84)
    assert a == pytest.approx(1113.19 * 1105.74, rel=2e-3)


def test_area_hole_subtracts():
    shell = [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]
    hole = [[0.25, 0.25], [0.75, 0.25], [0.75, 0.75], [0.25, 0.75], [0.25, 0.25]]
    b = parse_wkt_batch(
        pd.Series([polygon_wkt([shell]), polygon_wkt([hole]), polygon_wkt([shell, hole])])
    )
    areas = kernels.area_6933(b)
    assert areas[2] == pytest.approx(areas[0] - areas[1], rel=1e-12)


def test_olc_spec_goldens():
    # public spec test vectors (open-location-code encoding.csv)
    assert olc.encode(20.375, 2.775, 6) == "7FG49Q00+"
    assert olc.encode(20.3700625, 2.7821875, 10) == "7FG49QCJ+2V"
    assert olc.encode(20.370113, 2.782234, 11) == "7FG49QCJ+2VX"
    assert olc.encode(47.0000625, 8.0000625, 10) == "8FVC2222+22"
    assert olc.encode(-41.2730625, 174.7859375, 10) == "4VCPPQGP+Q9"


def test_olc_code_length_12_shape():
    code = olc.encode(20.370113, 2.782234, 12)
    assert len(code) == 13 and code[8] == "+"
    assert code.startswith("7FG49QCJ+2VX")


def test_haversine_known():
    # 1 degree of longitude at the equator ~ 111.19 km
    d = kernels.haversine_m(0.0, 0.0, 1.0, 0.0)
    assert d == pytest.approx(111195, rel=1e-3)


def test_cell_index_provider_abstraction():
    from open_buildings_spark.geo.cells import cell_index

    qk = cell_index("quadkey")
    c = qk.cell_of_scalar(55.4530911764705, -4.62311864604, 12)
    assert c == SEYCHELLES_QUADKEY
    assert qk.parent(c, 5) == c[:5]
    nb = qk.neighbors(c, 1)
    assert len(nb) == 9 and c in nb
    cover = qk.cover_bbox(55.4528, -4.6235, 55.4534, -4.6227, 12)
    assert c in cover
    vec = qk.cell_of(np.array([55.4530911764705]), np.array([-4.62311864604]), 12)
    assert vec[0] == c
    with pytest.raises(ImportError):
        cell_index("h3")  # not installed in this environment


def test_parse_mixed_batch_preserves_geom_order_invariant():
    """The fast-path/general-path merge must keep rings sorted by geometry
    with coords contiguous per geometry — reduceat-based kernels group
    vertices by geom_coord_offsets and silently compute garbage otherwise
    (regression: the block-assembly rewrite briefly broke this)."""
    import numpy as np
    import pandas as pd

    from open_buildings_spark.geo import kernels
    from open_buildings_spark.geo.wkt import parse_wkt_batch

    s = pd.Series(
        [
            "POLYGON ((0 0, 1 0, 1 1, 0 0))",
            "MULTIPOLYGON (((10 10, 11 10, 11 11, 10 10)), ((20 20, 21 20, 21 21, 20 20)))",
            None,
            "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
            "POINT (3 4)",
            "POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2), (2.2 2.2, 2.8 2.2, 2.8 2.8, 2.2 2.2))",
        ]
    )
    b = parse_wkt_batch(s)
    assert (np.diff(b.ring_geom) >= 0).all(), "rings must be geom-sorted"
    # coords contiguous per geom: offsets derived per-geom must tile coords
    offs = kernels.geom_coord_offsets(b)
    assert offs[-1] == len(b.coords)
    # per-geom vertex counts match the rings assigned to each geom
    sizes = np.diff(b.ring_offsets)
    for g in range(b.n_geoms):
        expect = sizes[b.ring_geom == g].sum()
        assert offs[g + 1] - offs[g] == expect
    # and the hole flag survived the merge
    holes = b.ring_is_hole[b.ring_geom == 5]
    assert list(holes) == [False, True]


def test_parse_wkt_batch_degrades_malformed_rows():
    """Bad rows (EMPTY, unsupported types, malformed text) become GT_MISSING
    without poisoning neighbors — the reference's shapely/DuckDB path also
    degrades per-row rather than failing the batch."""
    import pandas as pd

    from open_buildings_spark.geo.wkt import GT_MISSING, GT_POLYGON, parse_wkt_batch

    s = pd.Series(
        [
            "POLYGON ((0 0, 1 0, 1 1, 0 0))",
            "POLYGON EMPTY",
            "GEOMETRYCOLLECTION (POINT (1 2))",
            "LINESTRING (0 0, 1 1)",
            "POLYGON ((garbage",
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((2 2, 3 2, 3 3, 2 2)))",
            None,
            "",
        ]
    )
    b = parse_wkt_batch(s)
    assert list(b.gtype) == [GT_POLYGON, GT_MISSING, GT_MISSING, GT_MISSING,
                             GT_MISSING, 6, GT_MISSING, GT_MISSING]
    # ring bookkeeping stays consistent: only the good rows own rings
    assert set(b.ring_geom.tolist()) == {0, 5}
    assert b.ring_offsets[-1] == len(b.coords)


def test_degenerate_ring_segment_boundary():
    """A duplicate consecutive vertex (zero-length segment) must not flag
    every point as on-boundary."""
    import numpy as np
    from open_buildings_spark.geo import kernels

    ring = np.array(
        [[0.0, 0.0], [1.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    )
    pts = np.array([[0.5, 0.5], [2.0, 2.0], [1.0, 0.0]])
    strict, onb = kernels.points_in_polygon(pts, [(ring, False)])
    assert strict[0] and not onb[0]      # interior stays strict-inside
    assert not strict[1] and not onb[1]  # far point untouched
    assert onb[2]                        # the duplicated vertex itself


def test_intersects_touch_only_contact():
    """A polygon touching another only at a vertex on an edge (no crossing,
    no vertex containment) is still ST_Intersects."""
    import numpy as np
    from open_buildings_spark.geo import kernels
    from open_buildings_spark.geo.wkt import parse_wkt_batch
    import pandas as pd

    square = parse_wkt_batch(
        pd.Series(["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"])
    )
    tri = np.array([[1.0, 0.5], [2.0, 0.0], [2.0, 1.0], [1.0, 0.5]])
    got = kernels.intersects_mask(square, [(tri, False)])
    assert got[0]


def test_scalar_tile_at_poles():
    """tile() clamps |lat|>=90 like the vectorized twin instead of raising."""
    from open_buildings_spark.geo import mercator

    assert mercator.tile(0.0, 90.0, 12)[1] == 0
    assert mercator.tile(0.0, -90.0, 12)[1] == (1 << 12) - 1


def test_wkb_iso_z_codes_project_to_2d():
    """ISO WKB Z polygons (code 1003) decode with the true point width and
    project to 2D instead of walking the stream misaligned."""
    import struct
    import numpy as np
    from open_buildings_spark.geo.wkt import GT_POLYGON, parse_wkb

    pts3 = [(0.0, 0.0, 5.0), (1.0, 0.0, 5.0), (1.0, 1.0, 5.0), (0.0, 0.0, 5.0)]
    buf = struct.pack("<BII", 1, 1003, 1) + struct.pack("<I", len(pts3))
    for x, y, z in pts3:
        buf += struct.pack("<ddd", x, y, z)
    gt, rings = parse_wkb(buf)
    assert gt == GT_POLYGON
    np.testing.assert_array_equal(
        rings[0][0], np.array([[0, 0], [1, 0], [1, 1], [0, 0]], dtype=float)
    )


def test_malformed_simple_row_degrades_alone():
    """One bad 'simple' polygon (unmarked 3D) degrades to GT_MISSING without
    corrupting the other simple rows' coordinates."""
    import pandas as pd
    from open_buildings_spark.geo.wkt import GT_MISSING, GT_POLYGON, parse_wkt_batch

    good = "POLYGON ((10 20, 30 20, 30 40, 10 20))"
    bad = "POLYGON ((1 2 0, 3 4 0, 5 6 0, 1 2 0))"
    b = parse_wkt_batch(pd.Series([good, bad, good]))
    assert list(b.gtype) == [GT_POLYGON, GT_MISSING, GT_POLYGON]
    assert (b.ring(0) == [[10, 20], [30, 20], [30, 40], [10, 20]]).all()
    assert (b.ring(1) == [[10, 20], [30, 20], [30, 40], [10, 20]]).all()


def test_degenerate_rectangle_ring_is_not_a_rect():
    """A closed 5-vertex ring whose vertices all sit on bbox corners but
    visit only three of them (zero area) is not a rectangle: the one
    rectangle predicate rejects it, so the rect fast path of
    ``intersects_mask`` cannot admit a point the exact kernel rejects."""
    from open_buildings_spark.geo.wkt import rings_batch

    wkt = "POLYGON((0 0,2 0,2 1,2 0,0 0))"
    ring = np.array([[0, 0], [2, 0], [2, 1], [2, 0], [0, 0]], dtype=np.float64)
    assert not kernels.rect_mask(rings_batch([(ring, False)]))[0]
    assert not kernels.rect_mask(parse_wkt_batch(pd.Series([wkt])))[0]
    centre = parse_wkt_batch(pd.Series(["POINT (1 0.5)"]))
    assert kernels.intersects_mask(centre, [(ring, False)])[0] == (
        kernels._intersects_exact(centre, [(ring, False)])[0]
    )
    # a real rectangle still takes the fast path, written either way
    rect = np.array([[0, 0], [2, 0], [2, 1], [0, 1], [0, 0]], dtype=np.float64)
    assert kernels.rect_mask(rings_batch([(rect, False)]))[0]
    assert list(kernels.rect_mask(parse_wkt_batch(pd.Series([
        "POLYGON((0 0,2 0,2 1,0 1,0 0))",
        "MULTIPOLYGON(((0 0,2 0,2 1,0 1,0 0)))",
    ])))) == [True, True]
