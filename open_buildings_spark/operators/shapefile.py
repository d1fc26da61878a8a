"""ESRI Shapefile sink + source, implemented from the public spec.

The reference exports .shp through GDAL (open_buildings/
download_buildings.py:304-311; google/process.py benchmarks it). No GDAL
exists here; the format is the published ESRI white paper ("ESRI Shapefile
Technical Description", 1998) plus dBASE III for attributes:

- ``.shp``: 100-byte header (file code 9994 BE, length in 16-bit words,
  version 1000 LE, shape type, bbox), then per-record BE headers + LE shape
  payloads. Polygons are type 5 (rings concatenated; outer rings clockwise,
  holes counter-clockwise — orientation is enforced on write); points are
  type 1. A shapefile holds ONE shape type; multipolygons share type 5.
- ``.shx``: same header + (offset, content length) per record.
- ``.dbf``: dBASE III — field descriptors (name <= 10 chars; C/N types) and
  fixed-width ASCII records.

Scale shape: one encode kernel and one file assembler serve both the
single-file writer and ``sharded_export``. :func:`encode` turns each Arrow
batch into ready .shp records and .dbf rows on the executors;
:func:`write_file` patches in the global record numbers (offsets depend on
global record order — the same single-file funnel GDAL pays), builds the
.shx and writes the triple. ``write_shp`` runs them through the export
funnel (``funnel.py``: one mapInArrow pass to scratch Arrow IPC files,
streamed back through a bounded prefetch); ``sharded_export`` runs them
per shard in task memory. Reader for round-trips/interop.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

SHP_POINT = 1
SHP_POLYGON = 5

_HEADER_LEN = 100


def _ring_signed_area(c: np.ndarray) -> float:
    x, y = c[:, 0], c[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def _oriented(c: np.ndarray, clockwise: bool) -> np.ndarray:
    """Close the ring and enforce orientation (shapefile: outer CW, hole CCW)."""
    if not np.array_equal(c[0], c[-1]):
        c = np.vstack([c, c[0]])
    area = _ring_signed_area(c[:-1]) if len(c) > 3 else _ring_signed_area(c)
    is_ccw = area > 0
    if clockwise == is_ccw:  # wrong way round
        c = c[::-1]
    return c


def _polygon_record(rings: list[tuple[np.ndarray, bool]]) -> bytes:
    closed = [_oriented(c, clockwise=not hole) for c, hole in rings]
    pts = np.concatenate(closed, axis=0)
    parts = np.cumsum([0] + [len(r) for r in closed[:-1]])
    return (
        struct.pack("<i", SHP_POLYGON)
        + struct.pack(
            "<dddd",
            float(pts[:, 0].min()), float(pts[:, 1].min()),
            float(pts[:, 0].max()), float(pts[:, 1].max()),
        )
        + struct.pack("<ii", len(closed), len(pts))
        + struct.pack(f"<{len(closed)}i", *parts.tolist())
        + np.ascontiguousarray(pts, dtype="<f8").tobytes()
    )


def _point_record(x: float, y: float) -> bytes:
    return struct.pack("<i", SHP_POINT) + struct.pack("<dd", x, y)


def _polygon_records_fast(coords3: np.ndarray) -> tuple[list, np.ndarray]:
    """Vectorized :func:`_polygon_record` for the dominant shape — a batch
    of CLOSED single-ring polygons sharing one ring length. ``coords3`` is
    (m, L, 2); returns (per-row record bytes, (m, 4) bboxes). One
    structured-array fill + one ``tobytes`` replaces m rounds of
    struct.pack; byte-identical to the scalar encoder (outer ring
    enforced clockwise via the same shoelace-on-open-ring test)."""
    m, L, _ = coords3.shape
    x = coords3[:, :-1, 0]
    y = coords3[:, :-1, 1]
    area = 0.5 * (
        (x * np.roll(y, -1, axis=1)).sum(axis=1)
        - (np.roll(x, -1, axis=1) * y).sum(axis=1)
    )
    pts = np.ascontiguousarray(coords3, dtype="<f8").copy()
    flip = area > 0  # CCW outer ring -> reverse to clockwise
    pts[flip] = pts[flip, ::-1, :]
    dt = np.dtype(
        [
            ("st", "<i4"), ("bb", "<f8", 4), ("npn", "<i4", 2),
            ("part", "<i4"), ("pts", "<f8", (L, 2)),
        ]
    )
    arr = np.zeros(m, dtype=dt)
    arr["st"] = SHP_POLYGON
    arr["bb"][:, 0] = pts[:, :, 0].min(axis=1)
    arr["bb"][:, 1] = pts[:, :, 1].min(axis=1)
    arr["bb"][:, 2] = pts[:, :, 0].max(axis=1)
    arr["bb"][:, 3] = pts[:, :, 1].max(axis=1)
    arr["npn"][:, 0] = 1
    arr["npn"][:, 1] = L
    arr["pts"] = pts
    buf = arr.tobytes()
    sz = arr.itemsize
    return [buf[i * sz : i * sz + sz] for i in range(m)], arr["bb"].copy()


def dbf_field_name(name: str) -> str:
    """The on-disk .dbf field name for a column: dBASE caps names at 10
    chars (GDAL truncates the same way). Single source of truth — the
    sharded manifest's reader schema must record exactly what the .dbf
    files will carry."""
    return name[:10]


def _dbf_fields(columns) -> list[tuple[str, str, int, int]]:
    """(name<=10, type, length, decimals) per column from Spark types.
    Two columns colliding after truncation would silently overwrite each
    other's attribute — refuse instead."""
    truncated = [dbf_field_name(name) for name, _ in columns]
    dups = {t for t in truncated if truncated.count(t) > 1}
    if dups:
        raise ValueError(
            f"column names collide after the DBF 10-char truncation: "
            f"{sorted(dups)}; rename before exporting to shapefile"
        )
    out = []
    for name, st in columns:
        fname = dbf_field_name(name)
        if st == "string":
            out.append((fname, "C", 80, 0))
        elif st in ("double", "float"):
            out.append((fname, "N", 24, 10))
        elif st in ("bigint", "int"):
            # 20 chars fits any int64 incl. sign (-9223372036854775808)
            out.append((fname, "N", 20, 0))
        elif st == "boolean":
            out.append((fname, "L", 1, 0))
        else:
            raise ValueError(f"unsupported shapefile column type {st} for {name}")
    return out


def _dbf_value(v, ftype: str, length: int, dec: int) -> bytes:
    if v is None or v is pd.NA or (isinstance(v, float) and np.isnan(v)):
        return b" " * length if ftype != "L" else b"?"
    if ftype == "C":
        b = str(v).encode("utf-8", "replace")[:length]
        return b + b" " * (length - len(b))
    if ftype == "L":
        return b"T" if v else b"F"
    if dec:
        s = f"{float(v):.{dec}f}"
    else:
        s = str(int(v))
    if len(s) > length:
        # never truncate digits — a chopped number is silent corruption
        raise ValueError(
            f"value {s!r} does not fit DBF numeric field width {length}"
        )
    return s.rjust(length).encode("ascii")


def _dbf_column(s: pd.Series, ftype: str, flen: int, dec: int) -> np.ndarray:
    """Vectorized :func:`_dbf_value` for a whole column -> ``S{flen}``
    array (fixed-width, space-padded, byte-identical to the scalar
    encoder, which stays as its test reference). The encode kernel calls
    this once per column per batch instead of once per cell. A number too
    wide for the field raises :class:`~.funnel.EncodeError` naming the
    series' name and the offending row's index label."""
    k = len(s)
    if ftype == "L":
        out = np.full(k, b"?", dtype="S1")
        mask = s.notna().to_numpy()
        vals = np.zeros(k, dtype=bool)
        vals[mask] = np.asarray(s.to_numpy(object)[mask], dtype=bool)
        out[mask & vals] = b"T"
        out[mask & ~vals] = b"F"
        return out
    out = np.full(k, b" " * flen, dtype=f"S{flen}")
    mask = s.notna().to_numpy()
    if not mask.any():
        return out
    vals = s.to_numpy(object)[mask]
    if ftype == "C":
        u = np.asarray(vals, dtype="U")
        enc = np.char.encode(u, "utf-8", "replace")
        # astype(S{flen}) truncates at flen BYTES (same as [:flen]);
        # ljust space-pads to the fixed width
        out[mask] = np.char.ljust(enc.astype(f"S{flen}"), flen)
        return out
    if dec:
        strs = np.char.mod(f"%.{dec}f", np.asarray(vals, dtype=np.float64))
    else:
        strs = np.char.mod("%d", np.asarray(vals, dtype=np.int64))
    wide = np.nonzero(np.char.str_len(strs) > flen)[0]
    if len(wide):
        # never truncate digits — a chopped number is silent corruption
        from .funnel import EncodeError

        row = s.index[np.nonzero(mask)[0][wide[0]]]
        raise EncodeError(
            s.name, int(row),
            f"value {str(strs[wide[0]])!r} does not fit DBF numeric field "
            f"width {flen}",
        )
    out[mask] = np.char.rjust(strs.astype(f"S{flen}"), flen)
    return out


# ESRI shapefile caps: every internal offset/length is a signed 32-bit
# quantity of 16-bit words, so .shp/.shx/.dbf may not reach 2 GiB. The
# writer enforces this BEFORE assembling the final files — at planet
# scale use the sharded export (one file per quadkey shard) instead.
SHP_MAX_BYTES = 2**31 - 1


def shp_columns(schema_fields, wkt_col: str) -> list[tuple[str, str]]:
    """Spark schema -> (name, spark simple type) attribute list; validated
    by :func:`_dbf_fields`. Shared by single-file and sharded writers."""
    columns = [
        (f.name, f.dataType.simpleString())
        for f in schema_fields
        if f.name != wkt_col
    ]
    _dbf_fields(columns)  # raises on unmappable types
    return columns


def encode(rb, wkt_col: str, columns: list[tuple[str, str]]):
    """Executor kernel: one Arrow batch -> ONE encoded row holding the
    whole batch as three blobs plus its shape types and bbox:

    - ``__obs_shp``: the .shp records, each behind an 8-byte header with
      the content length filled in and the record number left 0 (only
      the writer knows the global order);
    - ``__obs_lens``: per-record byte lengths (>i4), for the header
      positions and the .shx table;
    - ``__obs_dbf``: the fixed-width dBASE rows, from the vectorized
      column encoder (nullable ints kept exact beyond 2^53).

    Closed single-ring polygons (the dominant shape) encode as one
    structured-array fill per ring-length group; points, multipolygons,
    holes and degenerate rings take the scalar record encoders. Rows
    without geometry are dropped. A value too wide for its DBF field
    raises :class:`~.funnel.EncodeError`."""
    import pyarrow as pa

    from ..geo.wkt import GT_POINT, parse_wkt_batch
    from ..pdexact import int_types_mapper

    fields = _dbf_fields(columns)
    col_names = [c for c, _ in columns]
    batch = parse_wkt_batch(rb.column(wkt_col).to_pandas())
    ng = batch.n_geoms
    bounds = np.searchsorted(batch.ring_geom, np.arange(ng + 1))
    ro = batch.ring_offsets
    coords = batch.coords
    nrings = bounds[1:] - bounds[:-1]
    # clamp the first-ring index: geoms with no rings (null/garbage WKT)
    # get a placeholder that must stay in bounds even when the whole
    # batch has zero rings — they are masked out via `one`
    fr = np.minimum(bounds[:-1], max(batch.n_rings - 1, 0))
    rlen = np.zeros(ng, dtype=np.int64)
    if batch.n_rings:
        rlen = ro[fr + 1] - ro[fr]
    closed = np.zeros(ng, dtype=bool)
    one = (nrings == 1) & (rlen > 3)
    if one.any():
        st = ro[fr[one]]
        en = ro[fr[one] + 1] - 1
        closed[one] = (coords[st] == coords[en]).all(axis=1)
    elig = one & closed & (batch.gtype != GT_POINT) & (batch.gtype != -1)
    if batch.n_rings:
        elig &= ~batch.ring_is_hole[fr]
    rec_by_g: list = [None] * ng
    bb_by_g = np.zeros((ng, 4), dtype=np.float64)
    for L in np.unique(rlen[elig]) if elig.any() else []:
        gsel = np.nonzero(elig & (rlen == L))[0]
        starts = ro[fr[gsel]]
        fast_recs, fast_bb = _polygon_records_fast(coords[starts[:, None] + np.arange(L)])
        for j, g in enumerate(gsel):
            rec_by_g[g] = fast_recs[j]
        bb_by_g[gsel] = fast_bb
    rings_of: dict[int, list] = {}
    for r in range(batch.n_rings):
        g = int(batch.ring_geom[r])
        if not elig[g]:
            rings_of.setdefault(g, []).append(
                (batch.ring(r), bool(batch.ring_is_hole[r]))
            )
    recs, types, keep, bbs = [], [], [], []
    for g in range(ng):
        gt = int(batch.gtype[g])
        if gt == -1:
            continue
        if rec_by_g[g] is not None:
            recs.append(rec_by_g[g])
            types.append(SHP_POLYGON)
            bbs.append(tuple(bb_by_g[g]))
        elif gt == GT_POINT:
            ring = rings_of[g][0][0]
            x, y = ring[0, 0], ring[0, 1]
            recs.append(_point_record(x, y))
            types.append(SHP_POINT)
            bbs.append((x, y, x, y))
        else:
            rec = _polygon_record(rings_of.get(g, []))
            recs.append(rec)
            types.append(SHP_POLYGON)
            bbs.append(struct.unpack_from("<dddd", rec, 4))
        keep.append(g)
    if not keep:
        return None
    bb = np.asarray(bbs, dtype=np.float64)
    k = len(keep)
    lens = np.fromiter((len(r) for r in recs), dtype=np.int64, count=k)
    hdr = np.zeros((k, 2), dtype=">i4")
    hdr[:, 1] = lens // 2
    hb = hdr.tobytes()
    pieces: list = [None] * (2 * k)
    pieces[0::2] = [hb[i * 8 : i * 8 + 8] for i in range(k)]
    pieces[1::2] = recs
    pdf = rb.select(col_names).to_pandas(types_mapper=int_types_mapper())
    rec_arr = np.empty(
        k,
        dtype=[("_del", "S1")]
        + [(f"f{i}", f"S{fl}") for i, (_, _, fl, _) in enumerate(fields)],
    )
    rec_arr["_del"] = b" "
    for i, (cn, (_, ftype, flen, fdec)) in enumerate(zip(col_names, fields)):
        # iloc keeps the input row labels, so an overflow names its row
        rec_arr[f"f{i}"] = _dbf_column(pdf[cn].iloc[keep], ftype, flen, fdec)
    return pa.record_batch(
        [
            pa.array([b"".join(pieces)], type=pa.binary()),
            pa.array([lens.astype(">i4").tobytes()], type=pa.binary()),
            pa.array([rec_arr.tobytes()], type=pa.binary()),
            pa.array([",".join(str(t) for t in sorted(set(types)))]),
            pa.array([float(bb[:, 0].min())]),
            pa.array([float(bb[:, 1].min())]),
            pa.array([float(bb[:, 2].max())]),
            pa.array([float(bb[:, 3].max())]),
        ],
        names=[
            "__obs_shp", "__obs_lens", "__obs_dbf", "__obs_stypes",
            "__obs_minx", "__obs_miny", "__obs_maxx", "__obs_maxy",
        ],
    )


def write_file(
    path: str, batches, columns: list[tuple[str, str]]
) -> tuple[int, list[float] | None]:
    """Assemble the .shp/.shx/.dbf triple at ``path`` (siblings derived)
    from :func:`encode`'d batches (a funnel ``batches`` source): patch the
    global record numbers in, build the .shx offsets, and refuse mixed
    shape types or output past the format's 2 GiB cap BEFORE any file is
    written. The three files publish together. ``columns`` come from
    :func:`shp_columns` on the SPARK schema. Returns (feature count, data
    envelope [minx, miny, maxx, maxy] or None)."""
    from .funnel import publish

    base = path[:-4] if path.endswith(".shp") else path
    fields = _dbf_fields(columns)
    rec_size = 1 + sum(fl for _, _, fl, _ in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    shp_records = bytearray()
    shx_records = bytearray()
    dbf_records = bytearray()
    n = 0
    minx = miny = float("inf")
    maxx = maxy = float("-inf")
    shape_type = None
    offset_words = _HEADER_LEN // 2
    for rb in batches():
        for row in rb.to_pylist():
            blob = bytearray(row["__obs_shp"])
            lens = np.frombuffer(row["__obs_lens"], dtype=">i4").astype(np.int64)
            k = len(lens)
            uniq = row["__obs_stypes"].split(",")
            if shape_type is None:
                shape_type = int(uniq[0])
            if len(uniq) > 1 or int(uniq[0]) != shape_type:
                raise ValueError("shapefile cannot mix point and polygon shapes")
            clens = lens // 2
            # patch the global record numbers into the pre-built headers:
            # one strided 4-byte scatter per batch, no per-record Python
            starts = np.concatenate([[0], np.cumsum(8 + lens)[:-1]])
            view = np.frombuffer(blob, dtype=np.uint8)
            num_bytes = np.arange(n + 1, n + k + 1, dtype=">i4").view(
                np.uint8
            ).reshape(k, 4)
            view[(starts[:, None] + np.arange(4)).ravel()] = num_bytes.ravel()
            shp_records += blob
            sx = np.empty((k, 2), dtype=">i4")
            sx[:, 0] = offset_words + np.concatenate([[0], np.cumsum(4 + clens)[:-1]])
            sx[:, 1] = clens
            shx_records += sx.tobytes()
            offset_words += int((4 + clens).sum())
            n += k
            if (
                _HEADER_LEN + len(shp_records) > SHP_MAX_BYTES
                or hdr_size + rec_size * n + 1 > SHP_MAX_BYTES
            ):
                # every internal offset is signed-32 in 16-bit words: at
                # this size the format is the wrong tool
                raise ValueError(
                    "output exceeds the shapefile format's 2 GiB cap; use "
                    "sharded_export (one file per quadkey shard, deeper "
                    "levels for denser data) or FlatGeobuf"
                )
            minx = min(minx, row["__obs_minx"])
            miny = min(miny, row["__obs_miny"])
            maxx = max(maxx, row["__obs_maxx"])
            maxy = max(maxy, row["__obs_maxy"])
            dbf_records += row["__obs_dbf"]
    if shape_type is None:
        shape_type = SHP_POLYGON
        minx = miny = maxx = maxy = 0.0

    def header(total_words: int) -> bytes:
        return (
            struct.pack(">i", 9994)
            + b"\x00" * 20
            + struct.pack(">i", total_words)
            + struct.pack("<ii", 1000, shape_type)
            + struct.pack("<dddd", minx, miny, maxx, maxy)
            + struct.pack("<dddd", 0.0, 0.0, 0.0, 0.0)
        )

    dbf = bytearray()
    dbf += bytes([0x03, 95, 5, 30])  # dBASE III, fixed date (deterministic)
    dbf += struct.pack("<i", n)
    dbf += struct.pack("<HH", hdr_size, rec_size)
    dbf += b"\x00" * 20
    for fname, ftype, flen, fdec in fields:
        dbf += fname.encode("ascii").ljust(11, b"\x00")
        dbf += ftype.encode("ascii")
        dbf += b"\x00" * 4
        dbf += bytes([flen, fdec])
        dbf += b"\x00" * 14
    dbf += b"\x0d"
    with publish(base + ".shp") as shp_tmp, publish(base + ".shx") as shx_tmp, \
            publish(base + ".dbf") as dbf_tmp:
        with open(shp_tmp, "wb") as f:
            f.write(header((_HEADER_LEN + len(shp_records)) // 2))
            f.write(shp_records)
        with open(shx_tmp, "wb") as f:
            f.write(header((_HEADER_LEN + len(shx_records)) // 2))
            f.write(shx_records)
        with open(dbf_tmp, "wb") as f:
            f.write(dbf)
            f.write(dbf_records)
            f.write(b"\x1a")
    return n, ([minx, miny, maxx, maxy] if n else None)


def write_shp(df, path: str, wkt_col: str = "wkt") -> int:
    """DataFrame (WKT + scalar columns) -> .shp/.shx/.dbf triple at ``path``
    (pass 'out.shp'; siblings are derived). One shape type per file: POINT
    corpora write type 1, everything else type 5 (polygon/multipolygon);
    mixing points with polygons raises, like GDAL's shapefile driver.
    :func:`encode` runs in one distributed pass through the export funnel;
    :func:`write_file` assembles the triple. Null/invalid geometries are
    skipped. Returns feature count."""
    from functools import partial

    from . import funnel

    columns = shp_columns(df.schema.fields, wkt_col)
    kernel = partial(encode, wkt_col=wkt_col, columns=columns)
    with funnel.scratch(df, path, kernel) as batches:
        return write_file(path, batches, columns)[0]


def read_shp(
    path: str, bbox: tuple[float, float, float, float] | None = None
) -> pd.DataFrame:
    """.shp/.dbf triple -> pandas DataFrame with a ``wkt`` column +
    attributes (round-trip / interop reader). Polygon rings are grouped by
    orientation: CW rings open parts, CCW rings are holes of the previous
    part; multi-part outputs become MULTIPOLYGON.

    ``bbox`` (w, s, e, n) keeps only features whose bounding box
    intersects the window: every .shp polygon record header carries its
    bbox (points carry x,y), so skipped features are never ring-decoded
    and their .dbf rows never parsed. The format has no file-level
    spatial index — sharded exports prune whole files via the manifest's
    per-shard envelope before this record-level filter runs."""
    from ..geo.wkt import multipolygon_wkt, point_wkt, polygon_wkt

    base = path[:-4] if path.endswith(".shp") else path
    with open(base + ".shp", "rb") as f:
        buf = f.read()
    assert struct.unpack_from(">i", buf, 0)[0] == 9994, "not a shapefile"
    geoms = []
    keep: list[int] = []  # decoded record indices (for .dbf row alignment)
    ridx = 0
    off = _HEADER_LEN
    while off < len(buf):
        _, clen = struct.unpack_from(">ii", buf, off)
        off += 8
        st = struct.unpack_from("<i", buf, off)[0]
        hit = True
        if st == SHP_POINT:
            x, y = struct.unpack_from("<dd", buf, off + 4)
            if bbox is not None:
                hit = bbox[0] <= x <= bbox[2] and bbox[1] <= y <= bbox[3]
            if hit:
                geoms.append(point_wkt(x, y))
        elif st == SHP_POLYGON:
            if bbox is not None:
                bx0, by0, bx1, by1 = struct.unpack_from("<dddd", buf, off + 4)
                hit = (
                    bx0 <= bbox[2] and bx1 >= bbox[0]
                    and by0 <= bbox[3] and by1 >= bbox[1]
                )
            if hit:
                nparts, npts = struct.unpack_from("<ii", buf, off + 36)
                parts = struct.unpack_from(f"<{nparts}i", buf, off + 44)
                pts = np.frombuffer(
                    buf, dtype="<f8", count=npts * 2, offset=off + 44 + 4 * nparts
                ).reshape(-1, 2)
                bounds = list(parts) + [npts]
                polys: list[list[np.ndarray]] = []
                for i in range(nparts):
                    ring = pts[bounds[i] : bounds[i + 1]]
                    if _ring_signed_area(ring[:-1] if len(ring) > 3 else ring) <= 0:
                        polys.append([ring])  # CW = outer
                    elif polys:
                        polys[-1].append(ring)  # CCW = hole of previous outer
                    else:
                        polys.append([ring])
                geoms.append(
                    polygon_wkt(polys[0])
                    if len(polys) == 1
                    else multipolygon_wkt(polys)
                )
        else:
            raise ValueError(f"unsupported shape type {st}")
        if hit:
            keep.append(ridx)
        ridx += 1
        off += clen * 2
    # attributes
    with open(base + ".dbf", "rb") as f:
        dbuf = f.read()
    hdr_size, rec_size = struct.unpack_from("<HH", dbuf, 8)
    fields = []
    fo = 32
    while dbuf[fo] != 0x0D:
        name = dbuf[fo : fo + 11].split(b"\x00")[0].decode("ascii")
        ftype = chr(dbuf[fo + 11])
        flen = dbuf[fo + 16]
        fdec = dbuf[fo + 17]
        fields.append((name, ftype, flen, fdec))
        fo += 32
    rows = []
    for j, i in enumerate(keep):
        ro = hdr_size + i * rec_size + 1  # skip deletion flag
        row = {"wkt": geoms[j]}
        pos = ro
        for name, ftype, flen, fdec in fields:
            raw = dbuf[pos : pos + flen]
            pos += flen
            txt = raw.decode("utf-8", "replace").strip()
            if not txt or txt == "?":
                row[name] = None
            elif ftype == "C":
                row[name] = txt
            elif ftype == "L":
                row[name] = txt in ("T", "t", "Y", "y")
            elif fdec:
                row[name] = float(txt)
            else:
                row[name] = int(txt)
        rows.append(row)
    from .gpkg import _exact_frame

    return _exact_frame(rows)
