"""WKT / WKB geometry codec (Point / Polygon / MultiPolygon), no shapely.

The reference carries geometry as WKT text in the Google CSV path
(open_buildings/google/process.py:213) and as WKB blobs in the Overture path
(open_buildings/download_buildings.py:245,250; overture/add_columns.py:62).
This module provides both encodings over a single flat batch representation
(``GeomBatch``) designed for numpy-vectorized kernels.

Batch layout (ragged arrays, one struct for N geometries):
  coords       : (M, 2) float64, all vertices in row order
  ring_offsets : (R+1,) int64, ring i spans coords[ring_offsets[i]:ring_offsets[i+1]]
  ring_geom    : (R,) int32, owning geometry index of ring i
  ring_is_hole : (R,) bool, True for interior rings
  gtype        : (N,) int8, 1=Point 3=Polygon 6=MultiPolygon, -1=missing/invalid

Parsing has a fully vectorized fast path for single-ring ``POLYGON ((...))``
rows (the overwhelmingly common shape in building footprints) and a general
recursive-descent fallback for multipolygons / holes.
"""

from __future__ import annotations

import struct
import warnings
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd

GT_POINT = 1
GT_POLYGON = 3
GT_MULTIPOLYGON = 6
GT_MISSING = -1


@dataclass
class GeomBatch:
    coords: np.ndarray
    ring_offsets: np.ndarray
    ring_geom: np.ndarray
    ring_is_hole: np.ndarray
    gtype: np.ndarray

    @property
    def n_geoms(self) -> int:
        return len(self.gtype)

    @property
    def n_rings(self) -> int:
        return len(self.ring_geom)

    def ring(self, i: int) -> np.ndarray:
        return self.coords[self.ring_offsets[i] : self.ring_offsets[i + 1]]

    @cached_property
    def ring_start(self) -> np.ndarray:
        """(N+1,) geometry g owns rings [ring_start[g], ring_start[g+1]):
        ``ring_geom`` ascends by construction (geometries emit in order)."""
        return np.searchsorted(self.ring_geom, np.arange(self.n_geoms + 1))

    def rings_of(self, g: int) -> list[tuple[np.ndarray, bool]]:
        """Geometry ``g`` as the (ring, is_hole) list the polygon kernels take."""
        return [
            (self.ring(j), bool(self.ring_is_hole[j]))
            for j in range(self.ring_start[g], self.ring_start[g + 1])
        ]

    def take(self, idx: np.ndarray) -> GeomBatch:
        """The geometries at positions ``idx``, in that order, in
        O(selected): each geometry's rings and each ring's coordinates are
        contiguous ranges, gathered with one index array apiece."""
        idx = np.asarray(idx, dtype=np.int64)
        starts = self.ring_start[idx]
        counts = self.ring_start[idx + 1] - starts
        ring_idx = _ranges(starts, counts)
        sizes = self.ring_offsets[ring_idx + 1] - self.ring_offsets[ring_idx]
        coord_idx = _ranges(self.ring_offsets[ring_idx], sizes)
        return GeomBatch(
            coords=self.coords[coord_idx],
            ring_offsets=np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64),
            ring_geom=np.repeat(np.arange(len(idx), dtype=np.int32), counts),
            ring_is_hole=self.ring_is_hole[ring_idx],
            gtype=self.gtype[idx],
        )


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(start, start + count)`` for each pair."""
    total = int(counts.sum())
    if not total:
        return np.empty(0, dtype=np.int64)
    offs = np.cumsum(counts) - counts
    return np.repeat(starts - offs, counts) + np.arange(total)


def rings_batch(rings: list[tuple[np.ndarray, bool]]) -> GeomBatch:
    """One-polygon ``GeomBatch`` of a (ring, is_hole) list, so scalar
    callers share the batch kernels (``kernels.rect_mask``, ``bboxes``)."""
    sizes = [len(c) for c, _ in rings]
    return GeomBatch(
        coords=np.concatenate(
            [np.asarray(c, dtype=np.float64).reshape(-1, 2) for c, _ in rings]
            or [np.empty((0, 2))]
        ),
        ring_offsets=np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64),
        ring_geom=np.zeros(len(rings), dtype=np.int32),
        ring_is_hole=np.array([bool(h) for _, h in rings], dtype=bool),
        gtype=np.array([GT_POLYGON if rings else GT_MISSING], dtype=np.int8),
    )


def _floats(text: str) -> np.ndarray:
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        return np.fromstring(text.replace(",", " "), dtype=np.float64, sep=" ")


def _parse_one(wkt: str, g: int, rings: list, ring_geom: list, ring_hole: list) -> int:
    """General parser for one WKT string; appends rings; returns gtype."""
    s = wkt.strip()
    up = s[:20].upper()
    if up.startswith("POINT"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        xy = _floats(body)
        if len(xy) != 2:
            raise ValueError(f"non-2D POINT: {s[:40]!r}")
        rings.append(xy.reshape(1, 2))
        ring_geom.append(g)
        ring_hole.append(False)
        return GT_POINT
    if up.startswith("MULTIPOLYGON"):
        gtype = GT_MULTIPOLYGON
    elif up.startswith("POLYGON"):
        gtype = GT_POLYGON
    else:
        raise ValueError(f"unsupported WKT: {s[:40]!r}")
    body = s[s.index("(") + 1 : s.rindex(")")]
    # Walk parenthesis groups: depth-1 groups within a polygon body are rings;
    # for multipolygon, depth-1 groups are polygons whose depth-2 groups are rings.
    depth = 0
    start = 0
    ring_idx_in_part = 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
            if (gtype == GT_POLYGON and depth == 1) or (
                gtype == GT_MULTIPOLYGON and depth == 2
            ):
                start = i + 1
            if gtype == GT_MULTIPOLYGON and depth == 1:
                ring_idx_in_part = 0
        elif ch == ")":
            if (gtype == GT_POLYGON and depth == 1) or (
                gtype == GT_MULTIPOLYGON and depth == 2
            ):
                seg = body[start:i]
                xy = _floats(seg)
                # 2 floats per comma-separated vertex, exactly — unmarked-3D
                # or malformed coordinates would otherwise re-pair silently
                if len(xy) != 2 * (seg.count(",") + 1):
                    raise ValueError(f"non-2D/malformed ring: {seg[:40]!r}")
                rings.append(xy.reshape(-1, 2))
                ring_geom.append(g)
                ring_hole.append(ring_idx_in_part > 0)
                ring_idx_in_part += 1
            depth -= 1
    return gtype


_PREF_POLY = np.frombuffer(b"POLYGON ((", dtype=np.uint8)
_PREF_MULTI = np.frombuffer(b"MULTIPOLYGON (((", dtype=np.uint8)
_PREF_POINT = np.frombuffer(b"POINT (", dtype=np.uint8)


def _bulk_parse(s: pd.Series):
    """Vectorized bulk parse of canonical WKT over the raw utf8 buffer.

    One pyarrow encode gives (offsets, bytes); everything after is numpy
    over those two arrays — per-segment counts of the sparse structural
    chars via sorted position arrays + searchsorted (both cumsum and
    np.add.reduceat over the full buffer measured 5-40x slower),
    prefix/suffix tests via fixed-width gathers, blob assembly via one
    bytes-join of buffer views, and ONE csv float parse for the whole
    batch. Three row shapes are handled entirely vectorized (all others
    fall back to the per-row recursive-descent parser, with identical
    results):

      POLYGON ((...))           one ring, no holes (count '('==')'==2)
      MULTIPOLYGON (((...)))    canonical separators: rings split on
                                '), (' and parts on ')), ((' — validated
                                per row by requiring every inner paren to
                                be accounted for by a separator match, so
                                non-canonical spacing/nesting reroutes to
                                the exact per-row parser instead of being
                                misread
      POINT (x y)

    Returns (handled, fast_gtype, ring_geom, ring_hole, coords,
    ring_offsets) with rings already in ascending geometry order, or None
    when the series could not be viewed as an arrow string column (mixed
    non-str values) — the caller then routes every row per-row. A failed
    blob float-parse (malformed coordinates in any canonical-looking row)
    likewise returns handled=all-False: the per-row parser then degrades
    exactly the bad rows. Measured ~3x over the former pandas .str +
    per-row-multipolygon pipeline on building corpora."""
    import pyarrow as pa
    import pyarrow.csv as pacsv

    n = len(s)
    nothing = (
        np.zeros(n, dtype=bool),
        np.full(n, GT_MISSING, dtype=np.int8),
        np.empty(0, dtype=np.int32),
        np.empty(0, dtype=bool),
        np.empty((0, 2), dtype=np.float64),
        np.zeros(1, dtype=np.int64),
    )
    try:
        arr = pa.array(s, type=pa.large_string(), from_pandas=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
        return None
    if arr.offset != 0 or arr.buffers()[2] is None:
        return None  # pragma: no cover - fresh arrays start at offset 0
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64)[: n + 1]
    nd = int(offs[-1])
    d = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[:nd]
    if not nd:
        return nothing
    st, en = offs[:-1], offs[1:]
    L = en - st
    # structural chars are sparse (a handful per row), so per-segment
    # counts come from sorted position arrays + searchsorted — one 12 MB
    # compare+nonzero per char class, then O(rows log positions). (Both
    # cumsum and np.add.reduceat measured 5-40x slower here.)
    pos_open = np.nonzero(d == 40)[0]
    pos_close = np.nonzero(d == 41)[0]
    pos_comma = np.nonzero(d == 44)[0]

    def seg_count(pos: np.ndarray, a: np.ndarray, z: np.ndarray) -> np.ndarray:
        return np.searchsorted(pos, z) - np.searchsorted(pos, a)

    n_open = seg_count(pos_open, st, en)
    n_close = seg_count(pos_close, st, en)
    n_comma = seg_count(pos_comma, st, en)

    def prefix_mask(pref: np.ndarray) -> np.ndarray:
        k = len(pref)
        cand = np.nonzero(L >= k + 2)[0]
        out = np.zeros(n, dtype=bool)
        if len(cand):
            block = d[st[cand][:, None] + np.arange(k)]
            out[cand] = (block == pref).all(axis=1)
        return out

    last1 = np.where(L >= 1, d[np.maximum(en - 1, 0)], 0)
    last2 = np.where(L >= 2, d[np.maximum(en - 2, 0)], 0)
    last3 = np.where(L >= 3, d[np.maximum(en - 3, 0)], 0)
    simple = (
        prefix_mask(_PREF_POLY)
        & (n_open == 2) & (n_close == 2)
        & (last1 == 41) & (last2 == 41)
    )
    multi = (
        prefix_mask(_PREF_MULTI)
        & (last1 == 41) & (last2 == 41) & (last3 == 41)
    )
    point = (
        prefix_mask(_PREF_POINT)
        & (n_open == 1) & (n_close == 1) & (last1 == 41) & (n_comma == 0)
    )

    # -- canonical multipolygon rings: split on '), (' core matches,
    #    classified part-separator when flanked by ')' ... '(' --
    m_geom = np.empty(0, dtype=np.int64)
    m_start = np.empty(0, dtype=np.int64)
    m_stop = np.empty(0, dtype=np.int64)
    m_hole = np.empty(0, dtype=bool)
    if multi.any():
        core = (d[:-3] == 41) & (d[1:-2] == 44) & (d[2:-1] == 32) & (d[3:] == 40)
        mpos = np.nonzero(core)[0]
        row_of = np.searchsorted(offs, mpos, side="right") - 1
        keep = (
            multi[row_of]
            & (mpos >= st[row_of] + 16)
            & (mpos + 4 <= en[row_of] - 3)
        )
        mpos, row_of = mpos[keep], row_of[keep]
        if len(mpos):
            is_part = (
                (d[mpos - 1] == 41)
                & (d[np.minimum(mpos + 4, nd - 1)] == 40)
                & (mpos - 1 >= st[row_of] + 16)
                & (mpos + 5 <= en[row_of] - 3)
            )
        else:
            is_part = np.zeros(0, dtype=bool)
        sep_row = np.bincount(row_of, minlength=n)
        part_row = np.bincount(row_of[is_part], minlength=n)
        # validation: every inner paren must belong to a separator match,
        # else the row is non-canonical -> exact per-row parser
        ia = np.minimum(st + 16, nd)
        iz = np.maximum(en - 3, ia)
        in_open = seg_count(pos_open, ia, iz)
        in_close = seg_count(pos_close, ia, iz)
        ring_sep_row = sep_row - part_row
        multi &= (in_open == ring_sep_row + 2 * part_row) & (in_close == in_open)
        keep2 = multi[row_of]
        mpos, row_of, is_part = mpos[keep2], row_of[keep2], is_part[keep2]
        midx = np.nonzero(multi)[0]
        if len(midx):
            sep_cnt = np.bincount(row_of, minlength=n)[midx]
            nrings = sep_cnt + 1
            r_off = np.concatenate([[0], np.cumsum(nrings)])
            n_mr = int(r_off[-1])
            m_geom = np.repeat(midx, nrings)
            m_start = np.empty(n_mr, dtype=np.int64)
            m_stop = np.empty(n_mr, dtype=np.int64)
            m_hole = np.zeros(n_mr, dtype=bool)
            m_start[r_off[:-1]] = st[midx] + 16
            m_stop[r_off[1:] - 1] = en[midx] - 3
            if len(mpos):
                first_sep = np.searchsorted(row_of, midx)
                idx_in_row = np.arange(len(mpos)) - np.repeat(first_sep, sep_cnt)
                slot = r_off[np.searchsorted(midx, row_of)] + idx_in_row
                sep_sta = np.where(is_part, mpos - 1, mpos)
                sep_end = np.where(is_part, mpos + 5, mpos + 4)
                m_start[slot + 1] = sep_end
                m_stop[slot] = sep_sta
                m_hole[slot + 1] = ~is_part
            bad = m_stop <= m_start
            if bad.any():
                # empty/overlapping tokens: reroute those rows per-row
                badrow = np.zeros(n, dtype=bool)
                badrow[m_geom[bad]] = True
                multi &= ~badrow
                keep3 = ~badrow[m_geom]
                m_geom, m_start, m_stop, m_hole = (
                    m_geom[keep3], m_start[keep3], m_stop[keep3], m_hole[keep3]
                )

    sidx = np.nonzero(simple)[0]
    pidx = np.nonzero(point)[0]
    handled = simple | multi | point
    if not handled.any():
        return nothing

    # all rings (simple bodies + multi ring tokens + point bodies) merge
    # into one geometry-ordered token list feeding ONE blob + csv parse
    tg = np.concatenate([sidx, m_geom, pidx])
    ta = np.concatenate([st[sidx] + 10, m_start, st[pidx] + 7])
    tz = np.concatenate([en[sidx] - 2, m_stop, en[pidx] - 1])
    th = np.concatenate(
        [np.zeros(len(sidx), dtype=bool), m_hole, np.zeros(len(pidx), dtype=bool)]
    )
    order = np.argsort(tg, kind="stable")
    tg, ta, tz, th = tg[order], ta[order], tz[order], th[order]
    if ((tz - ta) <= 0).any():
        # zero-length simple/point body (e.g. 'POLYGON (())'): no safe slot
        # in the shared blob -> per-row for everything (rare, degenerate)
        return nothing
    vcount = seg_count(pos_comma, ta, tz) + 1
    # blob: one bytes-join of zero-copy buffer views; every line becomes
    # ' x y' (the ',' -> newline pass leaves the following ' ' as a uniform
    # pad column, and the join separator supplies it for ring-first lines)
    mv = memoryview(d)
    blob = b"\n " + b"\n ".join(
        [mv[a:z] for a, z in zip(ta.tolist(), tz.tolist())]
    )
    blob = blob.replace(b",", b"\n")
    expected = int(vcount.sum())
    try:
        t = pacsv.read_csv(
            pa.BufferReader(pa.py_buffer(blob)),
            read_options=pacsv.ReadOptions(
                use_threads=False, column_names=["p", "x", "y"]
            ),
            parse_options=pacsv.ParseOptions(delimiter=" "),
            convert_options=pacsv.ConvertOptions(
                include_columns=["x", "y"],
                column_types={"x": pa.float64(), "y": pa.float64()},
            ),
        )
        xs = t.column("x").to_numpy(zero_copy_only=False)
        ys = t.column("y").to_numpy(zero_copy_only=False)
    except pa.ArrowInvalid:
        xs = ys = None
    if (
        xs is None
        or len(xs) != expected
        or np.isnan(xs).any()
        or np.isnan(ys).any()
    ):
        # a malformed canonical-looking row would misalign the shared
        # blob for every other row; reroute the whole batch through the
        # per-row path, which degrades exactly the bad rows
        return nothing
    coords = np.column_stack([xs, ys])
    ring_offsets = np.concatenate([[0], np.cumsum(vcount)]).astype(np.int64)
    fast_gtype = np.full(n, GT_MISSING, dtype=np.int8)
    fast_gtype[simple] = GT_POLYGON
    fast_gtype[multi] = GT_MULTIPOLYGON
    # POINT bodies are exactly one vertex: n_comma == 0 guarantees one
    # line, and the csv schema guarantees exactly two floats on it (the
    # scalar parser's len(xy) == 2 rule)
    fast_gtype[point] = GT_POINT
    return handled, fast_gtype, tg.astype(np.int32), th, coords, ring_offsets


def parse_wkt_batch(series: pd.Series) -> GeomBatch:
    """Parse a Series of WKT strings into a GeomBatch.

    Vectorized fast path for canonical polygons / multipolygons / points
    (see :func:`_bulk_parse`); general per-row fallback otherwise. Null /
    empty strings become gtype=GT_MISSING with no rings.
    """
    n = len(series)
    vals = series.to_numpy(dtype=object)
    gtype = np.full(n, GT_MISSING, dtype=np.int8)

    is_str = np.array([isinstance(v, str) and len(v) > 0 for v in vals], dtype=bool)
    s = series.where(pd.Series(is_str, index=series.index), "")

    bulk = _bulk_parse(s) if n else None
    if bulk is not None:
        handled, fast_gtype, fast_geom, fast_hole, fast_coords, fast_offs = bulk
        gtype[handled] = fast_gtype[handled]
    else:
        handled = np.zeros(n, dtype=bool)
        fast_geom = np.empty(0, dtype=np.int32)
        fast_hole = np.empty(0, dtype=bool)
        fast_coords = np.empty((0, 2), dtype=np.float64)
        fast_offs = np.zeros(1, dtype=np.int64)

    # general path (non-canonical text, EMPTY geometries, unsupported
    # types): per-geom recursive descent. Parse failures degrade that ROW
    # to GT_MISSING instead of killing the whole Spark stage — the
    # reference's shapely/DuckDB path degrades per-row too.
    gen_rings: list = []
    gen_geom: list = []
    gen_hole: list = []
    for gi in np.nonzero(is_str & ~handled)[0]:
        n_before = len(gen_rings)
        try:
            gtype[gi] = _parse_one(vals[gi], int(gi), gen_rings, gen_geom, gen_hole)
        except (ValueError, IndexError):
            del gen_rings[n_before:], gen_geom[n_before:], gen_hole[n_before:]
            gtype[gi] = GT_MISSING

    if gen_rings:
        # merge the two blocks back into geometry order: several kernels
        # (geom_coord_offsets -> reduceat grouping) require coords contiguous
        # per geometry in ascending index order. Both blocks are themselves
        # geom-sorted, so a stable argsort is a cheap 2-way merge, and the
        # coordinate gather is one vectorized fancy-index pass.
        gen_coords = np.concatenate(gen_rings, axis=0)
        gen_sizes = np.array([len(r) for r in gen_rings], dtype=np.int64)
        all_coords = np.concatenate([fast_coords, gen_coords], axis=0)
        sizes_cat = np.concatenate([np.diff(fast_offs), gen_sizes])
        src_offs = np.concatenate([[0], np.cumsum(sizes_cat)])
        geom_cat = np.concatenate(
            [fast_geom, np.array(gen_geom, dtype=np.int32)]
        )
        hole_cat = np.concatenate(
            [fast_hole, np.array(gen_hole, dtype=bool)]
        )
        order = np.argsort(geom_cat, kind="stable")
        sizes = sizes_cat[order]
        ring_offsets = np.concatenate([[0], np.cumsum(sizes)])
        vidx = (
            np.repeat(src_offs[:-1][order] - ring_offsets[:-1], sizes)
            + np.arange(int(ring_offsets[-1]), dtype=np.int64)
        )
        coords = all_coords[vidx]
        ring_geom = geom_cat[order]
        ring_hole = hole_cat[order]
    else:
        coords = fast_coords
        ring_offsets = fast_offs
        ring_geom = fast_geom
        ring_hole = fast_hole
    return GeomBatch(
        coords=coords,
        ring_offsets=ring_offsets.astype(np.int64),
        ring_geom=ring_geom,
        ring_is_hole=ring_hole,
        gtype=gtype,
    )


def _fmt(v: float) -> str:
    """shapely-compatible coordinate formatting (python repr round-trips)."""
    r = repr(float(v))
    return r[:-2] if r.endswith(".0") else r


def _ring_wkt(coords) -> str:
    return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in coords) + ")"


def polygon_wkt(rings: list) -> str:
    """rings: list of (K,2) arrays/lists, shell first."""
    return "POLYGON (" + ", ".join(_ring_wkt(r) for r in rings) + ")"


def multipolygon_wkt(polys: list) -> str:
    """polys: list of list-of-rings."""
    return (
        "MULTIPOLYGON ("
        + ", ".join("(" + ", ".join(_ring_wkt(r) for r in rings) + ")" for rings in polys)
        + ")"
    )


def point_wkt(x: float, y: float) -> str:
    return f"POINT ({_fmt(x)} {_fmt(y)})"


def geojson_geometry_to_wkt(geometry: dict) -> str:
    """GeoJSON geometry dict -> WKT, matching shapely's text format.

    Reference: geojson_to_wkt at open_buildings/download_buildings.py:33-35,
    golden string at tests/test_open_buildings.py:60.
    """
    t = geometry["type"]
    c = geometry["coordinates"]
    if t == "Point":
        return point_wkt(c[0], c[1])
    if t == "Polygon":
        return polygon_wkt(c)
    if t == "MultiPolygon":
        return multipolygon_wkt(c)
    raise ValueError(f"unsupported geometry type {t}")


# ---------------------------------------------------------------------------
# WKB (little-endian, 2D) — used for the countries table / GeoParquet parity.
# ---------------------------------------------------------------------------


def _wkb_ring(coords) -> bytes:
    arr = np.asarray(coords, dtype="<f8")
    return struct.pack("<I", len(arr)) + arr.tobytes()


def polygon_wkb(rings: list) -> bytes:
    return (
        b"\x01" + struct.pack("<I", GT_POLYGON) + struct.pack("<I", len(rings))
        + b"".join(_wkb_ring(r) for r in rings)
    )


def multipolygon_wkb(polys: list) -> bytes:
    return (
        b"\x01" + struct.pack("<I", GT_MULTIPOLYGON) + struct.pack("<I", len(polys))
        + b"".join(polygon_wkb(rings) for rings in polys)
    )


def point_wkb(x: float, y: float) -> bytes:
    return b"\x01" + struct.pack("<I", GT_POINT) + struct.pack("<dd", x, y)


def parse_wkb(buf: bytes):
    """WKB -> (gtype, list of (rings, ...)); returns same shapes as parser.

    Returns (gtype, rings) where rings is list[(coords(K,2), is_hole)].
    """
    if buf is None or len(buf) == 0:
        return GT_MISSING, []
    bo = "<" if buf[0] == 1 else ">"
    (raw,) = struct.unpack_from(f"{bo}I", buf, 1)
    # ISO WKB Z/M/ZM codes (base + 1000/2000/3000) carry extra doubles per
    # point: read the true point width and project to 2D — decoding them as
    # 2D would walk the byte stream misaligned and yield garbage coordinates
    extra = 0
    code = raw
    if 1000 <= raw < 4000:
        extra = (1, 1, 2)[raw // 1000 - 1]
        code = raw % 1000
    dims = 2 + extra
    psz = 8 * dims
    off = 5
    if code == GT_POINT:
        vals = struct.unpack_from(f"{bo}{dims}d", buf, off)
        return GT_POINT, [(np.array([[vals[0], vals[1]]]), False)]
    if code == GT_POLYGON:
        (nr,) = struct.unpack_from(f"{bo}I", buf, off)
        off += 4
        rings = []
        for i in range(nr):
            (npts,) = struct.unpack_from(f"{bo}I", buf, off)
            off += 4
            arr = np.frombuffer(
                buf, dtype=f"{bo}f8", count=npts * dims, offset=off
            ).reshape(-1, dims)[:, :2]
            off += npts * psz
            rings.append((arr, i > 0))
        return GT_POLYGON, rings
    if code == GT_MULTIPOLYGON:
        (nparts,) = struct.unpack_from(f"{bo}I", buf, off)
        off += 4
        rings = []
        for _ in range(nparts):
            off += 5  # nested byte order + type
            (nr,) = struct.unpack_from(f"{bo}I", buf, off)
            off += 4
            for i in range(nr):
                (npts,) = struct.unpack_from(f"{bo}I", buf, off)
                off += 4
                arr = np.frombuffer(
                    buf, dtype=f"{bo}f8", count=npts * dims, offset=off
                ).reshape(-1, dims)[:, :2]
                off += npts * psz
                rings.append((arr, i > 0))
        return GT_MULTIPOLYGON, rings
    raise ValueError(f"unsupported WKB geometry code {raw}")


def wkb_from_batch(batch: GeomBatch) -> np.ndarray:
    """Serialize each geometry of a batch to WKB bytes (None for missing).

    Holes follow their shell; multipolygon parts are split on shell rings.
    Single-ring polygons (the dominant footprint shape) serialize in bulk:
    one structured-array fill per ring-size group replaces per-row
    struct.pack chains, byte-identical to :func:`polygon_wkb`. Points,
    multipolygons and holed polygons take the scalar path.
    """
    out = np.full(batch.n_geoms, None, dtype=object)
    ng = batch.n_geoms
    if ng == 0:
        return out
    bounds = np.searchsorted(batch.ring_geom, np.arange(ng + 1))
    nrings = bounds[1:] - bounds[:-1]
    first = np.minimum(bounds[:-1], max(batch.n_rings - 1, 0))
    sizes = np.diff(batch.ring_offsets)
    elig = (batch.gtype == GT_POLYGON) & (nrings == 1)
    if batch.n_rings:
        elig &= ~batch.ring_is_hole[first]
    else:
        elig[:] = False
    for L in np.unique(sizes[first[elig]]) if elig.any() else []:
        gsel = np.nonzero(elig & (sizes[first] == L))[0]
        starts = batch.ring_offsets[first[gsel]]
        block = batch.coords[starts[:, None] + np.arange(L)]
        dt = np.dtype(
            [("bo", "u1"), ("gt", "<u4"), ("nr", "<u4"), ("np", "<u4"),
             ("pts", "<f8", (L, 2))]
        )
        arr = np.empty(len(gsel), dtype=dt)
        arr["bo"] = 1
        arr["gt"] = GT_POLYGON
        arr["nr"] = 1
        arr["np"] = L
        arr["pts"] = block
        buf = arr.tobytes()
        sz = arr.itemsize
        for j, g in enumerate(gsel):
            out[g] = buf[j * sz : j * sz + sz]
    rest = np.nonzero((batch.gtype != GT_MISSING) & ~elig)[0]
    for g in rest:
        rings = [
            (batch.ring(r), bool(batch.ring_is_hole[r]))
            for r in range(bounds[g], bounds[g + 1])
        ]
        gt = batch.gtype[g]
        if gt == GT_POINT:
            out[g] = point_wkb(rings[0][0][0, 0], rings[0][0][0, 1])
        elif gt == GT_POLYGON:
            out[g] = polygon_wkb([c for c, _ in rings])
        else:  # multipolygon: new part at each shell
            parts: list[list] = []
            for coords, hole in rings:
                if not hole or not parts:
                    parts.append([coords])
                else:
                    parts[-1].append(coords)
            out[g] = multipolygon_wkb(parts)
    return out


def parse_wkb_batch(series: pd.Series) -> GeomBatch:
    n = len(series)
    gtype = np.full(n, GT_MISSING, dtype=np.int8)
    all_rings, ring_geom, ring_hole = [], [], []
    for gi, buf in enumerate(series.to_numpy(dtype=object)):
        gt, rings = parse_wkb(buf if buf is not None else b"")
        gtype[gi] = gt
        for coords, hole in rings:
            all_rings.append(np.asarray(coords, dtype=np.float64))
            ring_geom.append(gi)
            ring_hole.append(hole)
    if all_rings:
        coords = np.concatenate(all_rings, axis=0)
        sizes = np.array([len(r) for r in all_rings], dtype=np.int64)
        ring_offsets = np.concatenate([[0], np.cumsum(sizes)])
    else:
        coords = np.empty((0, 2), dtype=np.float64)
        ring_offsets = np.zeros(1, dtype=np.int64)
    return GeomBatch(
        coords=coords,
        ring_offsets=ring_offsets.astype(np.int64),
        ring_geom=np.array(ring_geom, dtype=np.int32),
        ring_is_hole=np.array(ring_hole, dtype=bool),
        gtype=gtype,
    )
