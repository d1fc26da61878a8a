"""Vectorized geometry kernels over ``GeomBatch`` (numpy only, no shapely).

These provide the engine equivalents of the DuckDB-spatial calls the
reference makes:

- ``ST_Within(geom, aoi)``          -> :func:`within_mask`
  (reference: open_buildings/download_buildings.py:250)
- ``ST_Intersects(country, geom)``  -> :func:`intersects_mask`
  (reference: open_buildings/overture/add_columns.py:58-63)
- ``ST_Centroid``                   -> :func:`centroids`
  (reference: open_buildings/google/add_columns.py:50)
- ``to_crs('EPSG:6933').area``      -> :func:`area_6933`
  (reference: open_buildings/google/process.py:104-109,242-247)

Boundary semantics (documented + pinned by tests): ``within`` requires every
vertex inside-or-on the AOI boundary, no proper edge crossing, and at least
one strictly-interior vertex — so footprints straddling or merely touching
the AOI from outside are excluded, matching the reference's use of
``ST_Within`` (not intersects) for AOI queries.
"""

from __future__ import annotations

import math

import numpy as np

from .wkt import GT_MULTIPOLYGON, GT_POLYGON, GeomBatch, rings_batch

_EPS = 1e-12


def geom_coord_offsets(batch: GeomBatch) -> np.ndarray:
    """(N+1,) coordinate offsets per geometry (rings are stored geom-contiguous)."""
    n = batch.n_geoms
    counts = np.zeros(n, dtype=np.int64)
    ring_sizes = np.diff(batch.ring_offsets)
    if len(ring_sizes):
        np.add.at(counts, batch.ring_geom, ring_sizes)
    return np.concatenate([[0], np.cumsum(counts)])


def bboxes(batch: GeomBatch) -> np.ndarray:
    """(N, 4) [minx, miny, maxx, maxy]; NaN rows for missing geometries."""
    n = batch.n_geoms
    out = np.full((n, 4), np.nan)
    offs = geom_coord_offsets(batch)
    has = np.diff(offs) > 0
    idx = np.nonzero(has)[0]
    if len(idx) == 0:
        return out
    starts = offs[:-1][idx]
    x = batch.coords[:, 0]
    y = batch.coords[:, 1]
    out[idx, 0] = np.minimum.reduceat(x, starts)
    out[idx, 1] = np.minimum.reduceat(y, starts)
    out[idx, 2] = np.maximum.reduceat(x, starts)
    out[idx, 3] = np.maximum.reduceat(y, starts)
    # reduceat with a lone trailing segment handles ends correctly because
    # segments are contiguous and cover exactly each geom's span only when
    # starts are unique; guard the degenerate shared-start case:
    if len(idx) > 1 and np.any(np.diff(starts) == 0):  # pragma: no cover
        for g in idx:
            seg = batch.coords[offs[g] : offs[g + 1]]
            out[g] = [seg[:, 0].min(), seg[:, 1].min(), seg[:, 0].max(), seg[:, 1].max()]
    return out


def _ring_shoelace(
    x: np.ndarray, y: np.ndarray, ring_offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized per-ring signed area + centroid numerators over ALL rings.

    Coordinates are translated to each ring's first vertex before the
    shoelace — raw coordinates suffer catastrophic cancellation (footprints
    are ~1e-9 of the coordinate magnitude squared); translation is
    area-exact. Returns (signed_area, cx, cy) per ring; degenerate rings get
    area 0 and the vertex mean as centroid.
    """
    sizes = np.diff(ring_offsets)
    nrings = len(sizes)
    if nrings == 0:
        z = np.empty(0)
        return z, z.copy(), z.copy()
    starts = ring_offsets[:-1]
    ring_id = np.repeat(np.arange(nrings), sizes)
    ox = x[starts][ring_id]
    oy = y[starts][ring_id]
    lx = x - ox
    ly = y - oy
    # next-vertex index, wrapping within each ring
    nxt = np.arange(len(x)) + 1
    nxt[ring_offsets[1:] - 1] = starts
    cross = lx * ly[nxt] - lx[nxt] * ly
    area = 0.5 * np.add.reduceat(cross, starts)
    cxn = np.add.reduceat((lx + lx[nxt]) * cross, starts)
    cyn = np.add.reduceat((ly + ly[nxt]) * cross, starts)
    # reduceat quirk: a segment whose start == len(x) (impossible here since
    # sizes>0) would misbehave; sizes are >= 1 by construction.
    good = np.abs(area) > _EPS * _EPS
    with np.errstate(divide="ignore", invalid="ignore"):
        cx = np.where(good, cxn / (6.0 * np.where(good, area, 1.0)), 0.0) + x[starts]
        cy = np.where(good, cyn / (6.0 * np.where(good, area, 1.0)), 0.0) + y[starts]
    # degenerate rings: vertex mean
    if (~good).any():
        mean_x = np.add.reduceat(x, starts) / sizes
        mean_y = np.add.reduceat(y, starts) / sizes
        cx = np.where(good, cx, mean_x)
        cy = np.where(good, cy, mean_y)
        area = np.where(good, area, 0.0)
    return area, cx, cy


def centroids(batch: GeomBatch) -> np.ndarray:
    """(N, 2) area-weighted centroid (holes subtracted); point geoms pass through."""
    n = batch.n_geoms
    out = np.full((n, 2), np.nan)
    if batch.n_rings == 0:
        return out
    area, cx, cy = _ring_shoelace(
        batch.coords[:, 0], batch.coords[:, 1], batch.ring_offsets
    )
    w = np.abs(area)
    w = np.where(w == 0.0, _EPS, w)  # points/degenerates still contribute
    w = np.where(batch.ring_is_hole, -w, w)
    wsum = np.zeros(n)
    accx = np.zeros(n)
    accy = np.zeros(n)
    np.add.at(wsum, batch.ring_geom, w)
    np.add.at(accx, batch.ring_geom, w * cx)
    np.add.at(accy, batch.ring_geom, w * cy)
    nz = wsum != 0
    out[nz, 0] = accx[nz] / wsum[nz]
    out[nz, 1] = accy[nz] / wsum[nz]
    return out


def bbox_midpoints(batch: GeomBatch) -> np.ndarray:
    """(N,2) bbox centers — the reference's quadkey anchor
    (midpoint(bbox.minx/maxx, miny/maxy), overture/add_columns.py:40-47)."""
    b = bboxes(batch)
    return np.column_stack([(b[:, 0] + b[:, 2]) / 2.0, (b[:, 1] + b[:, 3]) / 2.0])


# ---------------------------------------------------------------------------
# Point-in-polygon (vectorized raycast) against ONE polygon (rings list).
# ---------------------------------------------------------------------------


def _pip_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray):
    """Crossing-number parity + on-boundary flags for points vs one ring."""
    x0 = ring[:-1, 0][None, :]
    y0 = ring[:-1, 1][None, :]
    x1 = ring[1:, 0][None, :]
    y1 = ring[1:, 1][None, :]
    pxc = px[:, None]
    pyc = py[:, None]
    cond = (y0 > pyc) != (y1 > pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (pyc - y0) * (x1 - x0) / (y1 - y0)
    crossings = (cond & (pxc < xint)).sum(axis=1)
    # boundary: point on segment
    dx = x1 - x0
    dy = y1 - y0
    cross = (pxc - x0) * dy - (pyc - y0) * dx
    dot = (pxc - x0) * dx + (pyc - y0) * dy
    seglen2 = dx * dx + dy * dy
    on = (np.abs(cross) <= _EPS * np.maximum(1.0, np.sqrt(seglen2))) & (dot >= -_EPS) & (
        dot <= seglen2 + _EPS
    )
    # a zero-length segment (duplicate consecutive vertex, common in real
    # data) has cross=0 and dot∈[0,0] for EVERY point — without this mask
    # one degenerate segment flags the entire batch as on-boundary (the
    # shared vertex is still caught by its adjacent non-degenerate segments)
    on &= seglen2 > 0.0
    return (crossings % 2).astype(bool), on.any(axis=1)


def points_in_polygon(
    points: np.ndarray, rings: list[tuple[np.ndarray, bool]]
) -> tuple[np.ndarray, np.ndarray]:
    """(strictly_inside, on_boundary) of points vs one polygon-with-holes.

    ``rings``: list of (closed ring coords (K,2), is_hole).
    """
    px = points[:, 0]
    py = points[:, 1]
    inside = np.zeros(len(points), dtype=bool)
    boundary = np.zeros(len(points), dtype=bool)
    first = True
    for coords, is_hole in rings:
        ring = coords
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[0]])
        par, onb = _pip_ring(px, py, ring)
        boundary |= onb
        if is_hole:
            inside &= ~par
        else:
            if first:
                inside = par.copy()
                first = False
            else:
                inside |= par
    strict = inside & ~boundary
    return strict, boundary


def _segments_cross(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> np.ndarray:
    """Proper intersection test for segment arrays (broadcastable)."""

    def orient(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = orient(bx0, by0, bx1, by1, ax0, ay0)
    d2 = orient(bx0, by0, bx1, by1, ax1, ay1)
    d3 = orient(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = orient(ax0, ay0, ax1, ay1, bx1, by1)
    return ((d1 > _EPS) & (d2 < -_EPS) | (d1 < -_EPS) & (d2 > _EPS)) & (
        (d3 > _EPS) & (d4 < -_EPS) | (d3 < -_EPS) & (d4 > _EPS)
    )


def _geom_edges(batch: GeomBatch):
    """All edges of all rings as arrays (e0 (E,2), e1 (E,2), edge_geom).

    Fully vectorized (this runs once per AOI group inside the big join's
    refine — the per-ring python loop it replaces was ~60% of the whole
    within kernel on building-sized geometries). Consecutive-vertex edges
    come from one index gather; unclosed rings contribute their wrap edge
    (last->first) appended at the end — edge ORDER differs from the old
    per-ring loop there, which is fine: every consumer aggregates per
    geometry (any/unique), never by edge position."""
    offs = batch.ring_offsets
    sizes = np.diff(offs)
    valid = np.nonzero(sizes >= 2)[0]
    if not len(valid):
        z = np.empty((0, 2))
        return z, z, np.empty(0, dtype=np.int64)
    starts = offs[:-1][valid]
    ends = offs[1:][valid]
    cnt = ends - starts - 1  # consecutive edges per ring
    tot = int(cnt.sum())
    # flat coordinate index of each edge's first vertex (per-ring ranges)
    idx = np.repeat(starts - (np.cumsum(cnt) - cnt), cnt) + np.arange(tot)
    e0 = batch.coords[idx]
    e1 = batch.coords[idx + 1]
    eg = np.repeat(batch.ring_geom[valid].astype(np.int64), cnt)
    closed = (batch.coords[starts] == batch.coords[ends - 1]).all(axis=1)
    open_r = np.nonzero(~closed)[0]
    if len(open_r):
        e0 = np.concatenate([e0, batch.coords[ends[open_r] - 1]])
        e1 = np.concatenate([e1, batch.coords[starts[open_r]]])
        eg = np.concatenate(
            [eg, batch.ring_geom[valid[open_r]].astype(np.int64)]
        )
    return e0, e1, eg


def within_mask(batch: GeomBatch, aoi_rings: list[tuple[np.ndarray, bool]]) -> np.ndarray:
    """(N,) bool: geometry fully within the AOI polygon (ST_Within semantics,
    reference download_buildings.py:250). See module docstring for boundary rules."""
    n = batch.n_geoms
    if n == 0:
        return np.zeros(0, dtype=bool)
    strict, onb = points_in_polygon(batch.coords, aoi_rings)
    ok_vert = strict | onb

    offs = geom_coord_offsets(batch)
    counts = np.diff(offs)
    out = np.zeros(n, dtype=bool)
    has = counts > 0
    idx = np.nonzero(has)[0]
    if len(idx):
        starts = offs[:-1][idx]
        all_ok = np.logical_and.reduceat(ok_vert, starts)[: len(idx)] if len(starts) else np.array([], bool)
        any_strict = np.logical_or.reduceat(strict, starts)[: len(idx)] if len(starts) else np.array([], bool)
        out[idx] = all_ok & any_strict

    # reject proper edge crossings with the AOI boundary
    cand = np.nonzero(out)[0]
    if len(cand):
        ex0, ex1, eg = _geom_edges(batch)
        keep = np.isin(eg, cand)
        ex0, ex1, eg = ex0[keep], ex1[keep], eg[keep]
        if len(eg):
            for coords, _ in aoi_rings:
                ring = coords
                if not np.array_equal(ring[0], ring[-1]):
                    ring = np.vstack([ring, ring[0]])
                bx0 = ring[:-1, 0][None, :]
                by0 = ring[:-1, 1][None, :]
                bx1 = ring[1:, 0][None, :]
                by1 = ring[1:, 1][None, :]
                crosses = _segments_cross(
                    ex0[:, 0][:, None], ex0[:, 1][:, None],
                    ex1[:, 0][:, None], ex1[:, 1][:, None],
                    bx0, by0, bx1, by1,
                ).any(axis=1)
                bad = np.unique(eg[crosses])
                out[bad] = False
    return out


def _segments_intersect_rect(x0, y0, x1, y1, w, s, e, n) -> np.ndarray:
    """Liang–Barsky clip test, broadcast to (R, S): does segment ``s``
    meet CLOSED rect ``r``? Touching counts as intersecting (the caller
    wants a conservative "rect is NOT clear of the boundary" answer);
    a segment wholly inside the rect also counts."""
    dx = x1 - x0
    dy = y1 - y0
    shape = np.broadcast_shapes(np.shape(x0), np.shape(w))
    t0 = np.zeros(shape)
    t1 = np.ones(shape)
    ok = np.ones(shape, dtype=bool)
    for p, q in (
        (-dx, x0 - w),
        (dx, e - x0),
        (-dy, y0 - s),
        (dy, n - y0),
    ):
        p = np.broadcast_to(p, shape)
        zero = p == 0.0
        ok &= ~(zero & (q < 0.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = q / p
        t0 = np.where(~zero & (p < 0.0), np.maximum(t0, t), t0)
        t1 = np.where(~zero & (p > 0.0), np.minimum(t1, t), t1)
    return ok & (t0 <= t1)


_RECT_EPS = 1e-9


def rects_in_interior(
    rings: list[tuple[np.ndarray, bool]], rects: np.ndarray
) -> np.ndarray:
    """(R,) bool: each axis-aligned rect ``[w, s, e, n]`` lies STRICTLY in
    the polygon's interior — its center is strictly inside (holes
    respected) and no ring segment meets the rect (expanded by a tiny
    epsilon, so boundary contact disqualifies). When true, every geometry
    wholly contained in the rect is ST_Within the polygon with no exact
    test — the big spatial join's interior-cell fast path. A ring lying
    entirely inside the rect (a hole swallowed whole) still disqualifies:
    its segments are inside the rect and the clip test counts them."""
    rects = np.asarray(rects, dtype=np.float64)
    nr = len(rects)
    out = np.zeros(nr, dtype=bool)
    if nr == 0:
        return out
    segs = []
    for coords, _ in rings:
        ring = coords
        if len(ring) < 2:
            continue
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[0]])
        segs.append(
            np.stack([ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]], axis=1)
        )
    if not segs:
        return out
    sg = np.concatenate(segs)
    w = rects[:, 0][:, None] - _RECT_EPS
    s = rects[:, 1][:, None] - _RECT_EPS
    e = rects[:, 2][:, None] + _RECT_EPS
    n = rects[:, 3][:, None] + _RECT_EPS
    hit = _segments_intersect_rect(
        sg[None, :, 0], sg[None, :, 1], sg[None, :, 2], sg[None, :, 3], w, s, e, n
    )
    clear = ~hit.any(axis=1)
    centers = np.stack(
        [(rects[:, 0] + rects[:, 2]) / 2.0, (rects[:, 1] + rects[:, 3]) / 2.0],
        axis=1,
    )
    strict, _ = points_in_polygon(centers, rings)
    return clear & strict


def rect_mask(batch: GeomBatch) -> np.ndarray:
    """(N,) bool: geometry i is EXACTLY an axis-aligned rectangle — one
    closed 5-vertex shell (a Polygon or a one-part MultiPolygon), no
    holes, every vertex on a distinct bbox corner, each traversal step
    changing exactly one coordinate, with positive width and height; its
    bbox is then its rect. For such a polygon ST_Within degenerates to
    bbox arithmetic (a convex boundary admits no proper edge crossing
    once every vertex is inside) and ST_Intersects to a vertex-in-rect
    test: the containment witness of the spatial joins and the fast path
    of :func:`intersects_mask`. Rectangles are the dominant real-world
    AOI shape (tiles, bboxes, map-window queries). Scalar callers pass a
    one-geometry batch (``wkt.rings_batch``)."""
    ng = batch.n_geoms
    out = np.zeros(ng, dtype=bool)
    if ng == 0 or batch.n_rings == 0:
        return out
    nrings = np.diff(batch.ring_start)
    first = np.minimum(batch.ring_start[:-1], batch.n_rings - 1)
    sizes = np.diff(batch.ring_offsets)
    cand = (
        ((batch.gtype == GT_POLYGON) | (batch.gtype == GT_MULTIPOLYGON))
        & (nrings == 1)
        & (sizes[first] == 5)
        & ~batch.ring_is_hole[first]
    )
    idx = np.nonzero(cand)[0]
    if not len(idx):
        return out
    starts = batch.ring_offsets[first[idx]]
    blk = batch.coords[starts[:, None] + np.arange(5)]
    x, y = blk[:, :, 0], blk[:, :, 1]
    closed = (x[:, 0] == x[:, 4]) & (y[:, 0] == y[:, 4])
    w = x[:, :4].min(axis=1)
    e = x[:, :4].max(axis=1)
    s = y[:, :4].min(axis=1)
    n = y[:, :4].max(axis=1)
    corner = (
        ((x[:, :4] == w[:, None]) | (x[:, :4] == e[:, None]))
        & ((y[:, :4] == s[:, None]) | (y[:, :4] == n[:, None]))
    ).all(axis=1)
    # four DISTINCT corners (bit 2*east + north per vertex): a zero-area
    # ring can visit only three
    distinct = (
        1 << (2 * (x[:, :4] == e[:, None]) + (y[:, :4] == n[:, None]))
    ).sum(axis=1) == 15
    onemove = ((x[:, 1:] != x[:, :4]) ^ (y[:, 1:] != y[:, :4])).all(axis=1)
    out[idx] = closed & corner & distinct & onemove & (w < e) & (s < n)
    return out


def intersects_mask(batch: GeomBatch, other_rings: list[tuple[np.ndarray, bool]]) -> np.ndarray:
    """(N,) bool: geometry intersects the polygon (ST_Intersects semantics,
    reference overture/add_columns.py:62): shared point counts.

    Rectangle fast path: when the polygon is an axis-aligned rectangle,
    any geometry with a vertex STRICTLY inside it (beyond 4x the raycast
    tolerance, so the exact kernel would provably say yes) is accepted
    with four compares per vertex; only the remainder — geometries
    hugging or crossing the boundary with no interior vertex — pays the
    exact kernel. Identical results by construction."""
    n = batch.n_geoms
    if n == 0:
        return np.zeros(0, dtype=bool)
    other = rings_batch(other_rings)
    if rect_mask(other)[0]:
        w, s, e, nn = bboxes(other)[0]
        tx = 4.0 * _EPS * max(1.0, nn - s) / (nn - s)
        ty = 4.0 * _EPS * max(1.0, e - w) / (e - w)
        x = batch.coords[:, 0]
        y = batch.coords[:, 1]
        vin = (x > w + tx) & (x < e - tx) & (y > s + ty) & (y < nn - ty)
        offs = geom_coord_offsets(batch)
        counts = np.diff(offs)
        out = np.zeros(n, dtype=bool)
        idx = np.nonzero(counts > 0)[0]
        if len(idx):
            out[idx] = np.logical_or.reduceat(vin, offs[:-1][idx])[: len(idx)]
        rest = np.nonzero(~out & (batch.gtype != -1))[0]
        if len(rest):
            out[rest] = _intersects_exact(batch.take(rest), other_rings)
        return out
    return _intersects_exact(batch, other_rings)


def _intersects_exact(batch: GeomBatch, other_rings: list[tuple[np.ndarray, bool]]) -> np.ndarray:
    """The full ST_Intersects kernel (raycast + touch + containment +
    edge crossings) — see :func:`intersects_mask`."""
    n = batch.n_geoms
    if n == 0:
        return np.zeros(0, dtype=bool)
    strict, onb = points_in_polygon(batch.coords, other_rings)
    hit = strict | onb
    offs = geom_coord_offsets(batch)
    counts = np.diff(offs)
    out = np.zeros(n, dtype=bool)
    idx = np.nonzero(counts > 0)[0]
    if len(idx):
        starts = offs[:-1][idx]
        out[idx] = np.logical_or.reduceat(hit, starts)[: len(idx)]

    # bbox prefilters: a non-hit geometry (all vertices outside) can only
    # intersect by containing the other polygon or by edge crossing — both
    # require bbox overlap with the other's bbox. This keeps the expensive
    # paths off the hot path entirely for disjoint geometries.
    other_pts = np.concatenate([r for r, _ in other_rings])
    ow, os_, oe, on = (
        other_pts[:, 0].min(),
        other_pts[:, 1].min(),
        other_pts[:, 0].max(),
        other_pts[:, 1].max(),
    )
    bb = bboxes(batch)
    with np.errstate(invalid="ignore"):
        bbox_overlap = (bb[:, 2] >= ow) & (bb[:, 0] <= oe) & (bb[:, 3] >= os_) & (bb[:, 1] <= on)
        contains_other_bbox = (bb[:, 0] <= ow) & (bb[:, 2] >= oe) & (bb[:, 1] <= os_) & (bb[:, 3] >= on)

    # touch-only contact: one of the other's vertices resting ON a
    # candidate geometry's edge (no proper crossing, no vertex of THIS
    # geometry in the other) is still ST_Intersects. Vectorized as an
    # on-segment matrix over (other's vertices x candidate edges), chunked
    # over BOTH dimensions so temporaries stay bounded (~16 MB/array) at
    # any batch size x polygon complexity. Edges are extracted once here
    # and reused by the crossing pass below.
    all_edges = None  # (ex0, ex1, eg), lazily built, shared with crossings
    rest = np.nonzero(~out & bbox_overlap)[0]
    if len(rest):
        all_edges = _geom_edges(batch)
        ex0, ex1, eg = all_edges
        keep = np.isin(eg, rest)
        ex0k, ex1k, egk = ex0[keep], ex1[keep], eg[keep]
        touched = np.zeros(len(egk), dtype=bool)
        E_CHUNK, P_CHUNK = 8192, 256
        for elo in range(0, len(egk), E_CHUNK):
            e0 = ex0k[elo : elo + E_CHUNK]
            e1 = ex1k[elo : elo + E_CHUNK]
            dx = (e1[:, 0] - e0[:, 0])[:, None]
            dy = (e1[:, 1] - e0[:, 1])[:, None]
            seglen2 = dx * dx + dy * dy
            tol = _EPS * np.maximum(1.0, np.sqrt(seglen2))
            tch = np.zeros(len(e0), dtype=bool)
            for lo in range(0, len(other_pts), P_CHUNK):
                pxy = other_pts[lo : lo + P_CHUNK]
                rx = pxy[:, 0][None, :] - e0[:, 0][:, None]
                ry = pxy[:, 1][None, :] - e0[:, 1][:, None]
                cross = rx * dy - ry * dx
                dot = rx * dx + ry * dy
                on_seg = (
                    (np.abs(cross) <= tol)
                    & (dot >= -_EPS)
                    & (dot <= seglen2 + _EPS)
                    & (seglen2 > 0.0)
                )
                tch |= on_seg.any(axis=1)
            touched[elo : elo + E_CHUNK] = tch
        out[np.unique(egk[touched])] = True

    # geom-contains-other (the other polygon entirely inside a candidate):
    # needs the full PIP, but only possible when the candidate's bbox
    # contains the other's — a rare, tiny set, so the per-geometry loop is
    # off the hot path
    rest = np.nonzero(~out & contains_other_bbox)[0]
    for g in rest:
        rings_g = batch.rings_of(g)
        if not rings_g or len(rings_g[0][0]) < 3:
            continue
        s, b = points_in_polygon(other_pts, rings_g)
        if (s | b).any():
            out[g] = True

    # proper edge crossings (reuses the edge arrays built above)
    rest = np.nonzero(~out & bbox_overlap)[0]
    if len(rest):
        ex0, ex1, eg = all_edges if all_edges is not None else _geom_edges(batch)
        keep = np.isin(eg, rest)
        ex0, ex1, eg = ex0[keep], ex1[keep], eg[keep]
        if len(eg):
            for coords, _ in other_rings:
                ring = coords
                if not np.array_equal(ring[0], ring[-1]):
                    ring = np.vstack([ring, ring[0]])
                crosses = _segments_cross(
                    ex0[:, 0][:, None], ex0[:, 1][:, None],
                    ex1[:, 0][:, None], ex1[:, 1][:, None],
                    ring[:-1, 0][None, :], ring[:-1, 1][None, :],
                    ring[1:, 0][None, :], ring[1:, 1][None, :],
                ).any(axis=1)
                out[np.unique(eg[crosses])] = True
    return out


# ---------------------------------------------------------------------------
# Equal-area area (EPSG:6933, ellipsoidal Lambert cylindrical equal-area).
# Reference computes areas via gpd .to_crs('EPSG:6933').area
# (open_buildings/google/process.py:104-109).
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_E2 = 0.0066943799901413165
_WGS84_E = math.sqrt(_WGS84_E2)
_PHI_S = math.radians(30.0)
_K0 = math.cos(_PHI_S) / math.sqrt(1.0 - _WGS84_E2 * math.sin(_PHI_S) ** 2)


def _authalic_q(phi: np.ndarray) -> np.ndarray:
    s = np.sin(phi)
    return (1.0 - _WGS84_E2) * (
        s / (1.0 - _WGS84_E2 * s * s)
        - (1.0 / (2.0 * _WGS84_E)) * np.log((1.0 - _WGS84_E * s) / (1.0 + _WGS84_E * s))
    )


def project_6933(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    x = _WGS84_A * _K0 * np.radians(lon)
    y = _WGS84_A * _authalic_q(np.radians(lat)) / (2.0 * _K0)
    return x, y


def area_6933(batch: GeomBatch) -> np.ndarray:
    """(N,) polygon area in m^2 in the EPSG:6933 equal-area projection."""
    out = np.zeros(batch.n_geoms)
    if batch.n_rings == 0:
        return out
    px, py = project_6933(batch.coords[:, 0], batch.coords[:, 1])
    area, _, _ = _ring_shoelace(px, py, batch.ring_offsets)
    a = np.abs(area)
    a = np.where(batch.ring_is_hole, -a, a)
    np.add.at(out, batch.ring_geom, a)
    return out


# ---------------------------------------------------------------------------
# Distances (kNN metric): haversine meters on the WGS84 mean sphere.
# ---------------------------------------------------------------------------

_EARTH_R = 6371008.8


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(v, dtype=np.float64)) for v in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * _EARTH_R * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
