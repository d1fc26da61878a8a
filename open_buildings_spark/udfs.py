"""Arrow-batched pandas UDFs wrapping the numpy geo kernels.

All per-row math happens inside vectorized numpy kernels over Arrow batches —
there is no row-at-a-time Python on the hot path (north_rule). The reference's
equivalents are row-at-a-time DuckDB Python UDFs
(open_buildings/overture/add_columns.py:33-34).

The within/intersects refine (the reference's one ``ST_Within(geometry,
aoi)`` step, download_buildings.py:245-252) has one core, :func:`_refine`:
skip rows are TRUE unparsed, the rest group by AOI key and run the kernel
once per AOI. Three fixed-arity UDFs sit on it — closure AOIs
``(wkt, aoi_id, skip)`` (:func:`make_within_aois`: every ``aoi_query``
path and ``aoi_join``), row-carried AOI WKT ``(wkt, aoi_wkt, skip)``
(:func:`make_within_pairs_skip`: ``aoi_join_big``) and the two-argument
SQL predicates (:func:`make_pair_predicate`) — and the cover-cell
classifier :func:`make_cell_interior` shares its grouping loop.
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


def _aoi_groups(keys: pd.Series, rings_for):
    """THE grouping loop of every per-AOI refine: rows grouped by AOI key
    (factorize + stable argsort, so each group's row positions are one
    contiguous, ascending slice of the order), yielding ``(positions,
    rings)`` once per distinct key whose ``rings_for(uniques)`` entry is
    non-empty. NULL keys join no group. O(batch log batch) in total however
    many distinct AOIs a batch holds."""
    codes, uniques = pd.factorize(keys)
    order = np.argsort(codes, kind="stable")
    bounds = np.searchsorted(codes[order], np.arange(len(uniques) + 1))
    for u, rings in enumerate(rings_for(uniques)):
        if rings:
            yield order[bounds[u] : bounds[u + 1]], rings


def _wkt_rings(wkts) -> list:
    """Ring lists of distinct AOI WKT strings (each parsed once); None for
    an unparseable AOI."""
    ab = parse_wkt_batch(pd.Series(list(wkts), dtype=object))
    return [None if ab.gtype[u] == -1 else ab.rings_of(u) for u in range(ab.n_geoms)]


def _refine(wkt: pd.Series, keys: pd.Series, skip, rings_for, kernel) -> pd.Series:
    """THE grouped refine core behind every within/intersects UDF: rows
    with ``skip`` set (a containment witness established natively; NA
    counts as unset) are TRUE and never parsed; the rest parse once, group
    by AOI key (:func:`_aoi_groups`), and run ``kernel(batch, rings)``
    once per AOI over a contiguous O(run) gather. Unparseable geometries
    and rows of unknown or unparseable AOIs are FALSE."""
    n = len(wkt)
    out = np.zeros(n, dtype=bool) if skip is None else (
        skip.fillna(False).astype(bool).to_numpy()
    )
    rest = np.nonzero(~out)[0]
    if len(rest) < n:
        wkt = wkt.iloc[rest].reset_index(drop=True)
        keys = keys.iloc[rest].reset_index(drop=True)
    if len(rest):
        batch = parse_wkt_batch(wkt)
        for idx, rings in _aoi_groups(keys, rings_for):
            sub = batch if len(idx) == len(rest) else batch.take(idx)
            m = kernel(sub, rings)
            m[sub.gtype == -1] = False
            out[rest[idx]] = m
    return pd.Series(out)


def make_within_aois(aois: list[tuple[int, dict]]):
    """ST_Within(geom, AOI) (the reference's refinement predicate,
    download_buildings.py:250) against closure-carried AOIs, as a pandas
    UDF ``(wkt, aoi_id, skip)``: ``aois`` is [(aoi_id, GeoJSON feature)],
    their rings ride in the task closure. Single-AOI callers pass literal
    id and skip columns. The caller blanks the WKT of skip rows so their
    bytes never cross the Arrow boundary."""
    rings = {int(aid): aoi_rings(feat["geometry"]) for aid, feat in aois}

    @F.pandas_udf(BooleanType())
    def within_aois(wkt: pd.Series, aoi_id: pd.Series, skip: pd.Series) -> pd.Series:
        return _refine(
            wkt, aoi_id, skip, lambda ids: [rings.get(int(i)) for i in ids],
            kernels.within_mask,
        )

    return within_aois


def make_within_pairs_skip():
    """ST_Within per row pair ``(wkt, aoi_wkt, skip)``, the AOI geometry
    carried on the row (the big-big join's refine, each distinct AOI WKT
    parsed once per batch). The caller blanks both WKT columns of skip
    rows."""

    @F.pandas_udf(BooleanType())
    def within_pairs_skip(
        wkt: pd.Series, aoi_wkt: pd.Series, skip: pd.Series
    ) -> pd.Series:
        return _refine(wkt, aoi_wkt, skip, _wkt_rings, kernels.within_mask)

    return within_pairs_skip


def make_pair_predicate(kernel):
    """Two-argument ``(wkt, other_wkt)`` pandas UDF for a spatial
    predicate (``kernels.within_mask`` / ``intersects_mask``): sqlapi's
    ``ob_within`` / ``ob_intersects``. A literal right-hand side is one
    group, parsed once per batch."""

    @F.pandas_udf(BooleanType())
    def pair_predicate(wkt: pd.Series, other: pd.Series) -> pd.Series:
        return _refine(wkt, other, None, _wkt_rings, kernel)

    return pair_predicate


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
            sub = batch.take(idx)
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


def make_aoi_cover(level: int):
    """Factory: pandas UDF computing each AOI polygon's bbox, covering
    tile range at ``level``, and the axis-aligned-rectangle flag
    (``kernels.rect_mask``) — the distributed half of the big-big
    spatial join's cell cover (one Arrow pass over the AOI side, no
    driver loop). Invalid/missing geometries get x0 = -1 (filter them
    natively)."""

    @F.pandas_udf(AOI_COVER_TYPE)
    def aoi_cover(wkt: pd.Series) -> pd.DataFrame:
        batch = parse_wkt_batch(wkt)
        bb = kernels.bboxes(batch)
        arect = kernels.rect_mask(batch)
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


def make_cell_interior():
    """Factory: pandas UDF classifying (AOI wkt, cover-cell rect) pairs as
    INTERIOR — the rect lies strictly inside the AOI polygon
    (kernels.rects_in_interior: center strictly in, no boundary segment
    meets the rect, holes respected), so any geometry wholly inside the
    rect is ST_Within the AOI without an exact test. Runs on the AOI side
    of the big join (rows = AOI x cover cells — orders of magnitude
    smaller than the doc side); AOIs grouped per batch by the refine's
    grouping loop (:func:`_aoi_groups`) so each parses once. Reference analogue: the coarse-filter/exact-refine split of
    download_buildings.py:246-250."""

    @F.pandas_udf(BooleanType())
    def cell_interior(
        aoi_wkt: pd.Series,
        cw: pd.Series,
        cs: pd.Series,
        ce: pd.Series,
        cn: pd.Series,
    ) -> pd.Series:
        rects = np.stack([c.to_numpy(dtype=np.float64) for c in (cw, cs, ce, cn)], axis=1)
        out = np.zeros(len(aoi_wkt), dtype=bool)
        for idx, rings in _aoi_groups(aoi_wkt, _wkt_rings):
            out[idx] = kernels.rects_in_interior(rings, rects[idx])
        return pd.Series(out)

    # pure, but marked nondeterministic to pin the plan: downstream
    # references (the skip expression) must not split this into two evals
    return cell_interior.asNondeterministic()


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
