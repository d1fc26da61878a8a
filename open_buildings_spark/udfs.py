"""Arrow-batched pandas UDFs wrapping the numpy geo kernels.

All per-row math happens inside vectorized numpy kernels over Arrow batches —
there is no row-at-a-time Python on the hot path (north_rule). The reference's
equivalents are row-at-a-time DuckDB Python UDFs
(open_buildings/overture/add_columns.py:33-34).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .geo import kernels, mercator, olc
from .geo.wkt import parse_wkt_batch

ZOOM = 12


def aoi_rings(geometry: dict) -> list:
    """GeoJSON Polygon or MultiPolygon AOI -> flat (ring, is_hole) list.

    MultiPolygon parts flatten shell-first per part — the raycast kernels
    OR shells and subtract holes, which is exact for valid multipolygons
    (holes lie inside their own shell). Other types raise: the CLI accepts
    arbitrary AOI GeoJSON (get_buildings --aoi), and silently misreading a
    MultiPolygon's parts as shell+holes produced wrong rings before."""
    t = geometry["type"]
    if t == "Polygon":
        return [
            (np.asarray(r, dtype=np.float64), i > 0)
            for i, r in enumerate(geometry["coordinates"])
        ]
    if t == "MultiPolygon":
        out = []
        for poly in geometry["coordinates"]:
            out.extend(
                (np.asarray(r, dtype=np.float64), i > 0) for i, r in enumerate(poly)
            )
        return out
    raise ValueError(f"unsupported AOI geometry type {t!r} (use Polygon/MultiPolygon)")


def make_within_aoi(aoi_feature: dict):
    """Factory: pandas UDF testing ST_Within(geom, AOI) for one AOI polygon
    or multipolygon (the reference's refinement predicate,
    download_buildings.py:250). The AOI rings ride in the task closure
    (broadcast once per executor)."""
    rings = aoi_rings(aoi_feature["geometry"])

    @F.pandas_udf(BooleanType())
    def within_aoi(wkt: pd.Series) -> pd.Series:
        batch = parse_wkt_batch(wkt)
        mask = kernels.within_mask(batch, rings)
        mask[batch.gtype == -1] = False
        return pd.Series(mask)

    return within_aoi


def _within_skip_eval(wkt: pd.Series, skip: pd.Series, refine) -> pd.Series:
    """THE skip-flag semantics for every skip-aware within kernel (single-
    and per-row-AOI variants share this so a fix lands in both): rows with
    ``skip`` set (interior-cell containment witness, established natively;
    NA counts as not-skipped) are TRUE with no parse and no raycast; only
    the remaining rows are parsed and handed to ``refine(batch,
    rest_positions) -> bool mask``."""
    sk = skip.fillna(False).astype(bool).to_numpy()
    out = sk.copy()
    rest = np.nonzero(~sk)[0]
    if len(rest):
        batch = parse_wkt_batch(wkt.iloc[rest].reset_index(drop=True))
        out[rest] = refine(batch, rest)
    return pd.Series(out)


def make_within_aoi_skip(aoi_feature: dict):
    """Single-AOI variant of :func:`make_within_pairs_skip`: skip-flag
    handling via :func:`_within_skip_eval`; only boundary-cell candidates
    pay the exact kernel. The caller blanks the WKT for skip rows so
    their bytes never cross the Arrow boundary."""
    rings = aoi_rings(aoi_feature["geometry"])

    @F.pandas_udf(BooleanType())
    def within_aoi_skip(wkt: pd.Series, skip: pd.Series) -> pd.Series:
        def refine(batch, _rest):
            mask = kernels.within_mask(batch, rings)
            mask[batch.gtype == -1] = False
            return mask

        return _within_skip_eval(wkt, skip, refine)

    return within_aoi_skip


def prepare_countries(country_list: list[tuple[str, list]]):
    """Precompute per-country rings + bbox, ISO-ascending (tie-break order)."""
    prepared = []
    for iso, rings in sorted(country_list, key=lambda t: t[0]):
        rr = [(np.asarray(c, dtype=np.float64), bool(h)) for c, h in rings]
        allc = np.concatenate([c for c, _ in rr])
        bbox = (allc[:, 0].min(), allc[:, 1].min(), allc[:, 0].max(), allc[:, 1].max())
        prepared.append((iso, rr, bbox))
    return prepared


def assign_countries_np(batch, prepared) -> np.ndarray:
    """Min-ISO country whose polygon each footprint ST_Intersects (engine's
    deterministic tie-break; the reference's correlated UPDATE is
    last-write-wins: overture/add_columns.py:58-63). Vectorized per country
    with a bbox prefilter; the small country table is broadcast in-closure."""
    bb = kernels.bboxes(batch)
    out = np.full(batch.n_geoms, None, dtype=object)
    unassigned = batch.gtype != -1
    with np.errstate(invalid="ignore"):
        for iso, rings, (w, s, e, n) in prepared:  # ISO-ascending: first hit wins
            cand = (
                unassigned
                & (bb[:, 2] >= w)
                & (bb[:, 0] <= e)
                & (bb[:, 3] >= s)
                & (bb[:, 1] <= n)
            )
            idx = np.nonzero(cand)[0]
            if len(idx) == 0:
                continue
            sub = _subset_batch(batch, idx)
            hit = kernels.intersects_mask(sub, rings)
            hit_idx = idx[hit]
            out[hit_idx] = iso
            unassigned[hit_idx] = False
    return out


def make_country_assign(country_list: list[tuple[str, list]]):
    """Factory: pandas UDF form of :func:`assign_countries_np` (broadcast
    nested-loop spatial join, no shuffle)."""
    prepared = prepare_countries(country_list)

    @F.pandas_udf(StringType())
    def country_assign(wkt: pd.Series) -> pd.Series:
        batch = parse_wkt_batch(wkt)
        return pd.Series(assign_countries_np(batch, prepared))

    return country_assign


AOI_COVER_TYPE = StructType(
    [
        StructField("aminx", DoubleType()),
        StructField("aminy", DoubleType()),
        StructField("amaxx", DoubleType()),
        StructField("amaxy", DoubleType()),
        StructField("x0", IntegerType()),
        StructField("y0", IntegerType()),
        StructField("x1", IntegerType()),
        StructField("y1", IntegerType()),
        StructField("arect", BooleanType()),
    ]
)


def rect_rings_mask(batch) -> np.ndarray:
    """(N,) bool: geometry i is EXACTLY an axis-aligned rectangle — one
    closed 5-vertex shell, no holes, every vertex on a distinct bbox
    corner, each traversal step changing exactly one coordinate, with
    positive width and height. For such a polygon ST_Within degenerates
    to bbox arithmetic (a convex boundary admits no proper edge
    crossing once every vertex is inside), which the spatial joins
    exploit as a NATIVE containment fast path: candidates whose bbox
    sits strictly inside the rect (beyond the raycast kernel's
    on-boundary tolerance) are within with no parse and no raycast.
    Rectangles are the dominant real-world AOI shape (tiles, bboxes,
    map-window queries)."""
    ng = batch.n_geoms
    out = np.zeros(ng, dtype=bool)
    if ng == 0 or batch.n_rings == 0:
        return out
    bounds = np.searchsorted(batch.ring_geom, np.arange(ng + 1))
    nrings = bounds[1:] - bounds[:-1]
    first = np.minimum(bounds[:-1], batch.n_rings - 1)
    sizes = np.diff(batch.ring_offsets)
    from .geo.wkt import GT_POLYGON

    cand = (
        (batch.gtype == GT_POLYGON)
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
    onemove = (
        (x[:, 1:] != x[:, :4]) ^ (y[:, 1:] != y[:, :4])
    ).all(axis=1)
    out[idx] = closed & corner & distinct & onemove & (w < e) & (s < n)
    return out


def make_aoi_cover(level: int):
    """Factory: pandas UDF computing each AOI polygon's bbox, covering
    tile range at ``level``, and the axis-aligned-rectangle flag
    (:func:`rect_rings_mask`) — the distributed half of the big-big
    spatial join's cell cover (one Arrow pass over the AOI side, no
    driver loop). Invalid/missing geometries get x0 = -1 (filter them
    natively)."""

    @F.pandas_udf(AOI_COVER_TYPE)
    def aoi_cover(wkt: pd.Series) -> pd.DataFrame:
        batch = parse_wkt_batch(wkt)
        bb = kernels.bboxes(batch)
        arect = rect_rings_mask(batch)
        w = np.maximum(bb[:, 0], -180.0)
        s = np.maximum(bb[:, 1], -mercator.MERCATOR_LAT_LIMIT)
        e = np.minimum(bb[:, 2], 180.0)
        n = np.minimum(bb[:, 3], mercator.MERCATOR_LAT_LIMIT)
        # same tie-break epsilons as the scalar bbox_tile_range
        x0, y0 = mercator.tiles_np(w, n, level)
        x1, y1 = mercator.tiles_np(e - mercator.LL_EPSILON, s + mercator.LL_EPSILON, level)
        bad = batch.gtype == -1
        x0[bad] = -1
        return pd.DataFrame(
            {
                "aminx": bb[:, 0],
                "aminy": bb[:, 1],
                "amaxx": bb[:, 2],
                "amaxy": bb[:, 3],
                "x0": x0.astype(np.int32),
                "y0": y0.astype(np.int32),
                "x1": x1.astype(np.int32),
                "y1": y1.astype(np.int32),
                "arect": arect,
            }
        )

    # pure, but marked nondeterministic to pin the plan: the caller filters
    # on x0/bbox outputs, and a pushed filter would split this into TWO
    # ArrowEvalPython nodes (every AOI parsed twice)
    return aoi_cover.asNondeterministic()


def make_pair_predicate(kernel):
    """Pandas UDF factory testing a spatial predicate per ROW PAIR
    (wkt, other_wkt) via ``kernel`` (kernels.within_mask /
    intersects_mask) — the refinement step of the big-big spatial join,
    where each candidate row carries its partner geometry out of the cell
    equi-join. The single shared implementation behind
    :func:`make_within_pairs` and sqlapi's ``ob_within``/``ob_intersects``.

    Vectorization shape: within each Arrow batch, rows are grouped by the
    right side (factorize + stable argsort), each unique geometry's WKT
    parses once, and one vectorized kernel runs per group over a
    contiguous O(run)-cost gather (no O(batch) work per group — thousands
    of distinct AOIs per batch stay linear)."""

    @F.pandas_udf(BooleanType())
    def within_pairs(wkt: pd.Series, aoi_wkt: pd.Series) -> pd.Series:
        return pd.Series(_pairs_eval(wkt, aoi_wkt, kernel))

    return within_pairs


def _pairs_eval(wkt: pd.Series, aoi_wkt: pd.Series, kernel) -> np.ndarray:
    """Row-pair predicate core shared by :func:`make_pair_predicate` and
    the skip-aware variant (see its docstring for the vectorization
    shape)."""
    n = len(wkt)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    codes, uniques = pd.factorize(aoi_wkt)
    batch = parse_wkt_batch(wkt)
    ab = parse_wkt_batch(pd.Series(list(uniques), dtype=object))
    order = np.argsort(codes, kind="stable")
    sorted_codes = codes[order]
    ring_start = np.searchsorted(batch.ring_geom, np.arange(batch.n_geoms + 1))
    # same contiguous-range trick for the AOI side: geom_rings(u) is an
    # O(n_rings) scan, which per unique AOI would make the loop
    # O(uniques x rings) — searchsorted once gives each AOI's ring
    # range in O(log)
    ab_ring_start = np.searchsorted(ab.ring_geom, np.arange(ab.n_geoms + 1))
    bounds = np.searchsorted(sorted_codes, np.arange(len(uniques) + 1))
    for u in range(len(uniques)):
        lo, hi = bounds[u], bounds[u + 1]
        if lo == hi or ab.gtype[u] == -1:
            continue
        idx = order[lo:hi]  # ascending (stable sort) — _gather_batch needs it
        rings = [
            (ab.ring(j), bool(ab.ring_is_hole[j]))
            for j in range(ab_ring_start[u], ab_ring_start[u + 1])
        ]
        if not rings:
            continue
        sub = _gather_batch(batch, idx, ring_start)
        m = kernel(sub, rings)
        m[sub.gtype == -1] = False
        out[idx] = m
    return out


def make_within_pairs_skip():
    """ST_Within per row pair with an interior-cell FAST PATH: rows whose
    ``skip`` flag is set (doc bbox inside a cover cell that lies strictly
    inside the AOI — established natively before this eval) are TRUE with
    no parse and no raycast; only boundary-cell candidates pay the exact
    kernel. The caller blanks both WKT columns for skip rows so their
    bytes don't cross the Arrow boundary either."""

    @F.pandas_udf(BooleanType())
    def within_pairs_skip(
        wkt: pd.Series, aoi_wkt: pd.Series, skip: pd.Series
    ) -> pd.Series:
        sk = skip.fillna(False).astype(bool).to_numpy()
        out = sk.copy()
        rest = np.nonzero(~sk)[0]
        if len(rest):
            out[rest] = _pairs_eval(
                wkt.iloc[rest].reset_index(drop=True),
                aoi_wkt.iloc[rest].reset_index(drop=True),
                kernels.within_mask,
            )
        return pd.Series(out)

    return within_pairs_skip


def make_cell_interior():
    """Factory: pandas UDF classifying (AOI wkt, cover-cell rect) pairs as
    INTERIOR — the rect lies strictly inside the AOI polygon
    (kernels.rects_in_interior: center strictly in, no boundary segment
    meets the rect, holes respected), so any geometry wholly inside the
    rect is ST_Within the AOI without an exact test. Runs on the AOI side
    of the big join (rows = AOI x cover cells — orders of magnitude
    smaller than the doc side); AOIs grouped per batch so each parses
    once. Reference analogue: the coarse-filter/exact-refine split of
    download_buildings.py:246-250."""

    @F.pandas_udf(BooleanType())
    def cell_interior(
        aoi_wkt: pd.Series,
        cw: pd.Series,
        cs: pd.Series,
        ce: pd.Series,
        cn: pd.Series,
    ) -> pd.Series:
        n = len(aoi_wkt)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return pd.Series(out)
        codes, uniques = pd.factorize(aoi_wkt)
        ab = parse_wkt_batch(pd.Series(list(uniques), dtype=object))
        ab_ring_start = np.searchsorted(ab.ring_geom, np.arange(ab.n_geoms + 1))
        rects = np.stack(
            [
                cw.to_numpy(dtype=np.float64),
                cs.to_numpy(dtype=np.float64),
                ce.to_numpy(dtype=np.float64),
                cn.to_numpy(dtype=np.float64),
            ],
            axis=1,
        )
        order = np.argsort(codes, kind="stable")
        sorted_codes = codes[order]
        bounds = np.searchsorted(sorted_codes, np.arange(len(uniques) + 1))
        for u in range(len(uniques)):
            lo, hi = bounds[u], bounds[u + 1]
            if lo == hi or ab.gtype[u] == -1:
                continue
            idx = order[lo:hi]
            rings = [
                (ab.ring(j), bool(ab.ring_is_hole[j]))
                for j in range(ab_ring_start[u], ab_ring_start[u + 1])
            ]
            if not rings:
                continue
            out[idx] = kernels.rects_in_interior(rings, rects[idx])
        return pd.Series(out)

    # pure, but marked nondeterministic to pin the plan: downstream
    # references (the skip expression) must not split this into two evals
    return cell_interior.asNondeterministic()


def make_within_pairs():
    """ST_Within per row pair — see :func:`make_pair_predicate`."""
    return make_pair_predicate(kernels.within_mask)


def _gather_batch(batch, idx: np.ndarray, ring_start: np.ndarray):
    """GeomBatch restricted to sorted geometry indices ``idx`` in O(selected)
    (vs :func:`_subset_batch`'s O(batch) np.isin): ``ring_geom`` is ascending
    by construction (parsers emit geoms in order), so geom g's rings occupy
    the contiguous range [ring_start[g], ring_start[g+1])."""
    from .geo.wkt import GeomBatch

    idx = np.asarray(idx, dtype=np.int64)
    starts = ring_start[idx]
    counts = ring_start[idx + 1] - starts
    total = int(counts.sum())
    if total:
        roff = np.concatenate([[0], np.cumsum(counts)[:-1]])
        ring_idx = np.repeat(starts - roff, counts) + np.arange(total)
    else:
        ring_idx = np.empty(0, dtype=np.int64)
    sizes = np.diff(batch.ring_offsets)
    ksizes = sizes[ring_idx]
    ncoords = int(ksizes.sum())
    if ncoords:
        cstarts = batch.ring_offsets[ring_idx]
        coff = np.concatenate([[0], np.cumsum(ksizes)[:-1]])
        coord_idx = np.repeat(cstarts - coff, ksizes) + np.arange(ncoords)
        coords = batch.coords[coord_idx]
    else:
        coords = batch.coords[:0]
    offsets = np.concatenate([[0], np.cumsum(ksizes)]).astype(np.int64)
    return GeomBatch(
        coords=coords,
        ring_offsets=offsets,
        ring_geom=np.repeat(np.arange(len(idx), dtype=np.int32), counts),
        ring_is_hole=batch.ring_is_hole[ring_idx],
        gtype=batch.gtype[idx],
    )


def _subset_batch(batch, idx: np.ndarray):
    """GeomBatch restricted to geometry indices ``idx`` (sorted, order
    preserved) — fully vectorized gather, no per-ring Python."""
    from .geo.wkt import GeomBatch

    idx = np.asarray(idx, dtype=np.int64)
    keep_ring = np.isin(batch.ring_geom, idx)
    sizes = np.diff(batch.ring_offsets)
    coord_mask = np.repeat(keep_ring, sizes)
    coords = batch.coords[coord_mask]
    kept_sizes = sizes[keep_ring]
    offsets = np.concatenate([[0], np.cumsum(kept_sizes)])
    ring_geom = np.searchsorted(idx, batch.ring_geom[keep_ring]).astype(np.int32)
    return GeomBatch(
        coords=coords,
        ring_offsets=offsets.astype(np.int64),
        ring_geom=ring_geom,
        ring_is_hole=batch.ring_is_hole[keep_ring],
        gtype=batch.gtype[idx],
    )


@F.pandas_udf(StringType())
def plus_code12(lat: pd.Series, lon: pd.Series) -> pd.Series:
    """Vectorized OLC encode, codeLength 12 (reference:
    google/process.py:112-113 uses olc.encode(centroid, 12))."""
    la = lat.to_numpy(dtype=np.float64)
    lo = lon.to_numpy(dtype=np.float64)
    bad = np.isnan(la) | np.isnan(lo)
    la = np.where(bad, 0.0, la)
    lo = np.where(bad, 0.0, lo)
    codes = olc.encode_np(la, lo, 12)
    codes[bad] = None
    return pd.Series(codes)




def make_s2_key(level: int):
    """Arrow-batched lon/lat -> S2 KEY STRING at ``level`` (face digit +
    base-4 Hilbert digits, geo/s2.py key_strings): the cell-provider
    column for S2-layout tables — prefix-hierarchical and sorted like the
    numeric id, so the quadkey table machinery (prefix plans, manifest
    pruning, clustered sort) runs unchanged over it. NULL coords -> NULL
    key (the planner's null-key filter handles them like a failed parse)."""
    from .geo import s2

    if not 0 <= level <= s2.MAX_LEVEL:
        raise ValueError("level must be 0..30")

    @F.pandas_udf(StringType())
    def s2_key(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        bad = np.isnan(lo) | np.isnan(la)
        ids = s2.cells_from_lonlat(
            np.where(bad, 0.0, lo), np.where(bad, 0.0, la), level
        )
        out = s2.key_strings(ids, level)
        out[bad] = None
        return pd.Series(out)

    return s2_key


def make_s2_cell(level: int):
    """Arrow-batched lon/lat -> S2 cell id at ``level`` (int64, the public
    S2 bit layout — see geo/s2.py). The second cell provider next to the
    quadkey (reference partition scheme, overture/add_columns.py:40-47);
    unlike quadkeys, S2 containment is a RANGE predicate
    (child BETWEEN cell_range(parent)), so the ids feed range joins and
    range-partitioned layouts rather than prefix pushdown."""
    from .geo import s2

    if not 0 <= level <= s2.MAX_LEVEL:
        raise ValueError("level must be 0..30")

    @F.pandas_udf(LongType())
    def s2_cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        bad = np.isnan(lo) | np.isnan(la)
        ids = s2.cells_from_lonlat(
            np.where(bad, 0.0, lo), np.where(bad, 0.0, la), level
        )
        # astype BEFORE mask: Series.mask on int64 upcasts to float64 and
        # corrupts ids beyond 2^53 (always at level >= 25) for EVERY row in
        # a batch containing one null — the pandas int-null repeat offender.
        return pd.Series(ids).astype("Int64").mask(bad)

    return s2_cell
