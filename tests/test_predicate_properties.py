"""Property tests: every fast path of the AOI refine agrees with the exact
kernel it stands in for.

- ``kernels.rect_mask`` (the one rectangle predicate) against a
  brute-force definition, on degenerate 3-corner rings, collinear rings,
  open rings, rings with holes and one- and two-part multipolygons;
- the rectangle fast path of ``kernels.intersects_mask`` against
  ``_intersects_exact``, on points and slivers within 1e-15..1e-8 of each
  edge, with longitudes near +-180;
- ``kernels.rects_in_interior`` plus doc bbox inside the cell implies
  ``within_mask``, on star polygons with holes;
- the native containment witness itself (the real Column from
  ``spatial_join.containment_witness``, evaluated by Spark in one job over
  generated rows) never admits a row the exact ``within_mask`` rejects.

All but the last are numpy-only (no SparkSession).
"""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from open_buildings_spark.geo import kernels
from open_buildings_spark.geo.wkt import (
    multipolygon_wkt,
    parse_wkt_batch,
    point_wkt,
    polygon_wkt,
    rings_batch,
)

FAST = settings(
    max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)

# few distinct values, so equal coordinates (corners, collinear and
# repeated vertices) come up often
XS = [-180.0, -179.999999, -0.5, 0.0, 1e-9, 2.0, 179.999999, 180.0]
YS = [-85.0, -1.0, 0.0, 1e-12, 0.5, 85.0]


def is_rect(polys) -> bool:
    """Brute-force definition: the geometry is one shell ring (no holes,
    no second part) of five vertices, closed, whose first four vertices
    are the four distinct corners of a box of positive width and height,
    each step along one axis."""
    rings = [r for p in polys for r in p]
    if len(rings) != 1 or len(rings[0]) != 5:
        return False
    ring = [tuple(v) for v in rings[0]]
    if ring[0] != ring[4]:
        return False
    xs, ys = {x for x, _ in ring}, {y for _, y in ring}
    if len(xs) != 2 or len(ys) != 2:
        return False
    if set(ring[:4]) != {(x, y) for x in xs for y in ys}:
        return False
    return all(
        (ring[i][0] == ring[i + 1][0]) != (ring[i][1] == ring[i + 1][1])
        for i in range(4)
    )


@st.composite
def rect_like_ring(draw):
    """A rectangle ring in any start/direction, or one mutated into a
    near-miss: a repeated vertex, a fold back along an edge (three
    distinct corners, zero area), a diagonal step, a collinear box, an
    open ring, an extra vertex."""
    w, e = sorted(draw(st.lists(st.sampled_from(XS), min_size=2, max_size=2, unique=True)))
    s, n = sorted(draw(st.lists(st.sampled_from(YS), min_size=2, max_size=2, unique=True)))
    corners = [(w, s), (e, s), (e, n), (w, n)]
    k = draw(st.integers(0, 3))
    corners = corners[k:] + corners[:k]
    if draw(st.booleans()):
        corners = corners[::-1]
    mutation = draw(st.sampled_from(
        ["none", "repeat", "fold", "diagonal", "collinear", "open", "extra", "random"]
    ))
    i = draw(st.integers(1, 3))
    if mutation == "repeat":
        corners[i] = corners[i - 1]
    elif mutation == "fold":  # back along the last edge: 3 corners, zero area
        corners[i] = corners[(i + 2) % 4]
    elif mutation == "diagonal":
        corners[1], corners[2] = corners[2], corners[1]
    elif mutation == "collinear":
        corners = [(x, s) for x, _ in corners]
    elif mutation == "extra":
        corners.insert(1, ((corners[0][0] + corners[1][0]) / 2,
                           (corners[0][1] + corners[1][1]) / 2))
    elif mutation == "random":
        corners = draw(st.lists(
            st.tuples(st.sampled_from(XS), st.sampled_from(YS)), min_size=3, max_size=5
        ))
    ring = [list(c) for c in corners]
    if mutation != "open":
        ring.append(list(ring[0]))
    return ring


@st.composite
def rect_like_geometry(draw):
    """(polys, wkt): a Polygon (optionally with a hole) or a one- or
    two-part MultiPolygon built from rect-like rings."""
    shell = draw(rect_like_ring())
    kind = draw(st.sampled_from(["polygon", "holed", "multi1", "multi2"]))
    if kind == "holed":
        polys = [[shell, draw(rect_like_ring())]]
    elif kind == "multi2":
        polys = [[shell], [draw(rect_like_ring())]]
    else:
        polys = [[shell]]
    wkt = multipolygon_wkt(polys) if kind.startswith("multi") else polygon_wkt(polys[0])
    return polys, wkt


@FAST
@given(st.lists(rect_like_geometry(), min_size=1, max_size=12))
def test_rect_mask_matches_brute_force(geoms):
    want = [is_rect(polys) for polys, _ in geoms]
    batch = parse_wkt_batch(pd.Series([wkt for _, wkt in geoms]))
    assert kernels.rect_mask(batch).tolist() == want
    # the scalar form (a one-geometry batch of a flat ring list) agrees
    for (polys, _), ok in zip(geoms, want):
        rings = [(np.asarray(r, dtype=np.float64), i > 0) for p in polys for i, r in enumerate(p)]
        assert bool(kernels.rect_mask(rings_batch(rings))[0]) == ok
    # a rectangle's bbox is its rect
    bb = kernels.bboxes(batch)
    for (polys, _), ok, b in zip(geoms, want, bb):
        if ok:
            xs = [x for x, _ in polys[0][0]]
            ys = [y for _, y in polys[0][0]]
            assert tuple(b) == (min(xs), min(ys), max(xs), max(ys))


offset = st.one_of(
    st.just(0.0),
    st.builds(lambda m, e, sgn: sgn * m * 10.0 ** e,
              st.floats(1.0, 9.99), st.integers(-15, -8), st.sampled_from([-1.0, 1.0])),
)


@st.composite
def rect_aoi(draw):
    """(w, s, e, n): widths from 1e-6 to 300 degrees, flush with or near
    the antimeridian."""
    width = draw(st.sampled_from([1e-6, 1e-3, 0.25, 3.0, 90.0, 300.0]))
    height = draw(st.sampled_from([1e-6, 1e-3, 0.25, 3.0, 60.0]))
    anchor = draw(st.sampled_from(["west", "east", "free"]))
    if anchor == "west":
        w = -180.0 + draw(st.sampled_from([0.0, 1e-9, 1e-3]))
    elif anchor == "east":
        w = 180.0 - width - draw(st.sampled_from([0.0, 1e-9, 1e-3]))
    else:
        w = draw(st.floats(-180.0, 180.0 - width))
    s = draw(st.floats(-80.0, 80.0 - height))
    return w, s, w + width, s + height


@st.composite
def near_edge_geometry(draw, rect):
    """A point, a sliver (thin box) or a triangle with vertices within
    1e-15..1e-8 (either side) of one of the rect's edges or corners, or
    at 0.5..8 times the exact kernel's on-boundary tolerance for that
    edge (_EPS * max(1, length) / length) — the band the fast path's 4x
    margin has to clear."""
    w, s, e, n = rect

    def along(lo, hi):
        return lo + draw(st.sampled_from([0.0, 1.0, draw(st.floats(-0.1, 1.1))])) * (hi - lo)

    def off(length):
        if draw(st.booleans()):
            return draw(offset)
        tol = 1e-12 * max(1.0, length) / length
        return draw(st.sampled_from([-1.0, 1.0])) * draw(
            st.sampled_from([0.5, 1.0, 2.0, 3.9, 4.0, 4.1, 8.0])
        ) * tol

    def near_vertex():
        edge = draw(st.sampled_from("WESN"))
        if edge in "WE":
            return (w if edge == "W" else e) + off(n - s), along(s, n)
        return along(w, e), (s if edge == "S" else n) + off(e - w)

    shape = draw(st.sampled_from(["point", "sliver", "triangle"]))
    x, y = near_vertex()
    if shape == "point":
        return point_wkt(x, y)
    if shape == "sliver":
        dx = abs(draw(offset)) or 1e-15
        dy = draw(st.sampled_from([1e-15, 1e-9, 1e-3, (n - s) * 2]))
        if draw(st.booleans()):
            dx, dy = dy, dx
        return polygon_wkt([[[x, y], [x + dx, y], [x + dx, y + dy], [x, y + dy], [x, y]]])
    pts = [[x, y], list(near_vertex()), list(near_vertex())]
    return polygon_wkt([pts + [pts[0]]])


@FAST
@given(st.data())
def test_intersects_rect_fast_path_matches_exact(data):
    rect = data.draw(rect_aoi())
    w, s, e, n = rect
    rings = [(np.array([[w, s], [e, s], [e, n], [w, n], [w, s]]), False)]
    assert kernels.rect_mask(rings_batch(rings))[0]  # the fast path runs
    wkts = data.draw(st.lists(near_edge_geometry(rect), min_size=1, max_size=25))
    batch = parse_wkt_batch(pd.Series(wkts))
    fast = kernels.intersects_mask(batch, rings)
    exact = kernels._intersects_exact(batch, rings)
    assert fast.tolist() == exact.tolist(), [
        w_ for w_, f, x in zip(wkts, fast, exact) if f != x
    ]


@st.composite
def star_polygon(draw):
    """Star-shaped shell (6..12 jittered spokes, radii in [R/2, R], so it
    contains the disk of radius ~0.35R) with 0..2 disjoint star holes
    inside that disk."""
    cx = draw(st.floats(-170.0, 170.0))
    cy = draw(st.floats(-70.0, 70.0))
    big = draw(st.sampled_from([1e-3, 0.1, 1.0, 8.0]))

    def star(x0, y0, rmin, rmax, k):
        base = np.arange(k) * 2 * np.pi / k
        jit = np.array(draw(st.lists(st.floats(-0.25, 0.25), min_size=k, max_size=k)))
        ang = base + jit * 2 * np.pi / k
        rad = np.array(draw(st.lists(st.floats(rmin, rmax), min_size=k, max_size=k)))
        pts = np.stack([x0 + rad * np.cos(ang), y0 + rad * np.sin(ang)], axis=1)
        return np.vstack([pts, pts[:1]])

    rings = [(star(cx, cy, big / 2, big, draw(st.integers(6, 12))), False)]
    n_holes = draw(st.integers(0, 2))
    for h in range(n_holes):
        a = draw(st.floats(0, 2 * np.pi))
        off = 0.2 * big * h
        rings.append((
            star(cx + off * np.cos(a), cy + off * np.sin(a), 0.02 * big, 0.08 * big, 6),
            True,
        ))
    return rings


def in_cell(cell, u, v):
    """The point at fractions (u, v) of ``cell``, exactly on its edges at
    0 and 1 and never outside it."""
    cw, cs, ce, cn = cell
    x = cw if u == 0 else ce if u == 1 else min(max(cw + u * (ce - cw), cw), ce)
    y = cs if v == 0 else cn if v == 1 else min(max(cs + v * (cn - cs), cs), cn)
    return [x, y]


frac = st.one_of(st.sampled_from([0.0, 1.0]), st.floats(0.0, 1.0))


@FAST
@given(star_polygon(), st.integers(3, 10), st.data())
def test_interior_cell_witness_implies_within(rings, k, data):
    shell = rings[0][0]
    w, s = shell.min(axis=0)
    e, n = shell.max(axis=0)
    gx, gy = np.linspace(w, e, k + 1), np.linspace(s, n, k + 1)
    cells = np.array([
        [gx[i], gy[j], gx[i + 1], gy[j + 1]] for i in range(k) for j in range(k)
    ])
    interior = kernels.rects_in_interior(rings, cells)
    if not interior.any():
        return
    docs = []
    for cell in cells[interior]:
        for _ in range(data.draw(st.integers(1, 3))):
            pts = [in_cell(cell, data.draw(frac), data.draw(frac))
                   for _ in range(data.draw(st.integers(1, 4)))]
            docs.append(point_wkt(*pts[0]) if len(pts) == 1
                        else polygon_wkt([pts + [pts[0]]]))
    batch = parse_wkt_batch(pd.Series(docs))
    assert kernels.within_mask(batch, rings).all(), docs


def _witness_rows(rng):
    """Generated join rows: rect AOIs with box docs whose edges sit within
    0..1e-8 of the AOI edges (either side) or well inside, and star AOIs
    (with holes) with docs in every cover cell, classified interior or not
    by ``rects_in_interior``. Returns (rows, rings by AOI, doc WKT)."""
    rows, rings_by_aoi, wkts = [], {}, []
    for aid in range(40):
        width = 10.0 ** rng.uniform(-6, 2.4)
        height = 10.0 ** rng.uniform(-6, 1.5)
        w = rng.choice([-180.0, 180.0 - width, rng.uniform(-180.0, 180.0 - width)])
        s = rng.uniform(-80.0, 80.0 - height)
        e, n = w + width, s + height
        rings_by_aoi[aid] = [(np.array([[w, s], [e, s], [e, n], [w, n], [w, s]]), False)]
        for _ in range(250):
            o = [
                rng.choice([0.0, 1.0, -1.0]) * 10.0 ** rng.uniform(-16, -8)
                if rng.random() < 0.8 else rng.uniform(0, 0.5) * span
                for span in (width, width, height, height)
            ]
            x0, x1 = sorted((w + o[0], e - o[1]))
            y0, y1 = sorted((s + o[2], n - o[3]))
            box = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
            wkts.append(polygon_wkt([box if rng.random() < 0.5 else box[:3] + box[4:]]))
            rows.append((aid, x0, y0, x1, y1, 0.0, 0.0, 0.0, 0.0, False, True, w, s, e, n))
    for aid in range(40, 60):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
        big = 10.0 ** rng.uniform(-3, 1)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 9))
        rad = rng.uniform(big / 2, big, 9)
        shell = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
        hole = np.array([[cx - 0.05 * big, cy - 0.05 * big], [cx + 0.05 * big, cy - 0.05 * big],
                         [cx, cy + 0.05 * big]])
        rings = [(np.vstack([shell, shell[:1]]), False), (np.vstack([hole, hole[:1]]), True)]
        rings_by_aoi[aid] = rings
        aw, as_ = shell.min(axis=0)
        ae, an = shell.max(axis=0)
        k = 8
        gx, gy = np.linspace(aw, ae, k + 1), np.linspace(as_, an, k + 1)
        cells = np.array([[gx[i], gy[j], gx[i + 1], gy[j + 1]] for i in range(k) for j in range(k)])
        interior = kernels.rects_in_interior(rings, cells)
        for cell, it in zip(cells, interior):
            for _ in range(4):
                pts = [in_cell(cell, *rng.choice([0.0, 1.0, rng.random()], 2)) for _ in range(3)]
                xs, ys = [p[0] for p in pts], [p[1] for p in pts]
                wkts.append(polygon_wkt([pts + [pts[0]]]))
                rows.append((aid, min(xs), min(ys), max(xs), max(ys), *cell, bool(it),
                             False, aw, as_, ae, an))
    return rows, rings_by_aoi, wkts


def test_containment_witness_column_implies_within(spark):
    from open_buildings_spark.operators.spatial_join import containment_witness

    rows, rings_by_aoi, wkts = _witness_rows(np.random.default_rng(7))
    cols = ["aoi", "minx", "miny", "maxx", "maxy", "cw", "cs", "ce", "cn",
            "_interior", "arect", "aminx", "aminy", "amaxx", "amaxy"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["row"] = np.arange(len(pdf))
    got = (
        spark.createDataFrame(pdf)
        .select("row", containment_witness(True).alias("skip"))
        .toPandas()
        .sort_values("row")["skip"]
        .to_numpy()
    )
    # both arms fire, and only where they may
    assert got[pdf["arect"]].any() and got[pdf["_interior"]].any()
    assert not got[~pdf["arect"] & ~pdf["_interior"]].any()
    batch = parse_wkt_batch(pd.Series(wkts))
    aoi = pdf["aoi"].to_numpy()
    for aid, rings in rings_by_aoi.items():
        idx = np.nonzero((aoi == aid) & got)[0]
        if len(idx):
            exact = kernels.within_mask(batch.take(idx), rings)
            assert exact.all(), [wkts[i] for i in idx[~exact]][:5]
