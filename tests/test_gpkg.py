"""GeoPackage sink/source: OGC-spec-level metadata checks + round-trip.

The reference exports .gpkg through GDAL (download_buildings.py:304-311);
here the writer targets the public OGC 12-128r19 spec over stdlib sqlite3.
"""

import sqlite3
import struct

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_buildings_spark.operators import enrich, gpkg


@pytest.fixture(scope="module")
def small_geo(spark, docs):
    return (
        enrich.add_geo_columns(docs, drop_nongeo=True)
        .select("doc_id", "wkt", "quadkey", "area_m2")
        .limit(250)
    )


def test_gpkg_spec_metadata(spark, small_geo, tmp_path):
    path = str(tmp_path / "out.gpkg")
    n = gpkg.write_gpkg(small_geo, path, layer="buildings")
    assert n == 250
    db = sqlite3.connect(path)
    try:
        assert db.execute("PRAGMA application_id").fetchone()[0] == 0x47504B47
        assert db.execute("PRAGMA user_version").fetchone()[0] == 10300
        srs = dict(
            db.execute(
                "SELECT srs_id, organization FROM gpkg_spatial_ref_sys"
            ).fetchall()
        )
        assert srs == {-1: "NONE", 0: "NONE", 4326: "EPSG"}
        row = db.execute(
            "SELECT table_name, data_type, srs_id, min_x, max_x FROM gpkg_contents"
        ).fetchone()
        assert row[0] == "buildings" and row[1] == "features" and row[2] == 4326
        assert row[3] <= row[4]
        g = db.execute(
            "SELECT table_name, column_name, geometry_type_name, z, m "
            "FROM gpkg_geometry_columns"
        ).fetchone()
        # corpus mixes POLYGON and MULTIPOLYGON docs -> layer type GEOMETRY
        assert g == ("buildings", "geom", "GEOMETRY", 0, 0)
        assert db.execute('SELECT COUNT(*) FROM "buildings"').fetchone()[0] == 250
        # GeoPackageBinary header: magic GP, version 0, LE + envelope type 1
        blob = db.execute('SELECT geom FROM "buildings" LIMIT 1').fetchone()[0]
        assert blob[:2] == b"GP" and blob[2] == 0 and blob[3] == 0b00000011
        (srs_id,) = struct.unpack_from("<i", blob, 4)
        assert srs_id == 4326
        minx, maxx, miny, maxy = struct.unpack_from("<dddd", blob, 8)
        assert minx <= maxx and miny <= maxy
        assert blob[40] == 1  # WKB little-endian marker right after envelope
    finally:
        db.close()


def test_gpkg_roundtrip_lossless(spark, small_geo, tmp_path):
    path = str(tmp_path / "rt.gpkg")
    gpkg.write_gpkg(small_geo, path)
    back = gpkg.read_gpkg(path).set_index("doc_id").sort_index()
    orig = small_geo.toPandas().set_index("doc_id").sort_index()
    assert len(back) == len(orig)
    assert (back.quadkey == orig.quadkey).all()
    assert (back.area_m2 == orig.area_m2).all()
    # geometry exact through WKB: re-derived quadkey equals stored
    bdf = spark.createDataFrame(back.reset_index()[["doc_id", "wkt"]])
    re_qk = (
        enrich.add_geo_columns(bdf, drop_nongeo=True)
        .toPandas()
        .set_index("doc_id")
        .quadkey.sort_index()
    )
    assert (re_qk == orig.quadkey).all()


def test_gpkg_mixed_types_and_nulls(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "note": ["a", None, "c", None],
            "wkt": [
                "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
                "MULTIPOLYGON (((5 5, 6 5, 6 6, 5 5)), ((7 7, 8 7, 8 8, 7 7)))",
                "POINT (9.5 -3.25)",
                None,
            ],
        }
    )
    path = str(tmp_path / "mixed.gpkg")
    n = gpkg.write_gpkg(spark.createDataFrame(pdf), path)
    assert n == 3  # null-geometry row skipped
    db = sqlite3.connect(path)
    gtype = db.execute(
        "SELECT geometry_type_name FROM gpkg_geometry_columns"
    ).fetchone()[0]
    db.close()
    assert gtype == "GEOMETRY"  # mixed layer
    back = gpkg.read_gpkg(path).set_index("id").sort_index()
    exp = pdf.dropna(subset=["wkt"]).set_index("id").sort_index()
    assert list(back.wkt) == list(exp.wkt)
    assert back.note.iloc[0] == "a" and back.note.iloc[1] is None


def test_rtree_bulk_load_equals_insert_built():
    """The packed bulk loader must produce an rtree whose STORED CELLS are
    bit-identical to sqlite's own insert path (same RNDTOWARDS/RNDAWAY
    float32 outward rounding) and that passes rtreecheck; window queries
    agree on every probe."""
    import random
    import sqlite3

    import numpy as np

    from open_buildings_spark.operators import gpkg

    rng = np.random.default_rng(11)
    m = 5000
    x = rng.uniform(-170, 170, m)
    y = rng.uniform(-80, 80, m)
    bb = np.stack(
        [x, y, x + rng.uniform(0, 0.5, m), y + rng.uniform(0, 0.5, m)], axis=1
    )
    ids = np.arange(1, m + 1, dtype=np.int64)
    ref = sqlite3.connect(":memory:")
    ref.execute("CREATE VIRTUAL TABLE rt USING rtree(id, minx, maxx, miny, maxy)")
    ref.executemany(
        "INSERT INTO rt VALUES (?,?,?,?,?)",
        [(int(i), b[0], b[2], b[1], b[3]) for i, b in zip(ids, bb)],
    )
    blk = sqlite3.connect(":memory:")
    blk.execute("CREATE VIRTUAL TABLE rt USING rtree(id, minx, maxx, miny, maxy)")
    gpkg._rtree_bulk_load(blk, "rt", ids, bb)
    assert blk.execute("SELECT rtreecheck('main','rt')").fetchone() == ("ok",)
    a = ref.execute("SELECT id, minx, maxx, miny, maxy FROM rt ORDER BY id").fetchall()
    b = blk.execute("SELECT id, minx, maxx, miny, maxy FROM rt ORDER BY id").fetchall()
    assert a == b
    # header bytes match sqlite's own layout: depth lives ONLY in the
    # root's first two bytes; every other node stores 0 there
    root = blk.execute("SELECT data FROM rt_node WHERE nodeno=1").fetchone()[0]
    assert root[:2] == b"\x00\x02"  # 5000 entries @ cap 51 -> 3 levels
    rest = blk.execute("SELECT data FROM rt_node WHERE nodeno != 1").fetchall()
    assert rest and all(d[:2] == b"\x00\x00" for (d,) in rest)
    random.seed(5)
    q = (
        "SELECT id FROM rt WHERE minx <= ? AND maxx >= ? AND miny <= ? "
        "AND maxy >= ? ORDER BY id"
    )
    for _ in range(100):
        w = random.uniform(-170, 170)
        s = random.uniform(-80, 80)
        e = w + random.uniform(0, 20)
        n = s + random.uniform(0, 20)
        assert ref.execute(q, (e, w, n, s)).fetchall() == blk.execute(
            q, (e, w, n, s)
        ).fetchall()


def test_bbox_search_honors_header_byte_order(spark, small_geo, tmp_path):
    """A spec-valid feature whose GeoPackageBinary header is BIG-endian
    (flags bit 0 = 0) must still filter on the correct envelope — the
    reader picks the struct byte order from the flags byte instead of
    assuming little-endian."""
    import numpy as np

    path = str(tmp_path / "be.gpkg")
    gpkg.write_gpkg(small_geo, path, layer="buildings")
    db = sqlite3.connect(path)
    try:
        w, s, e, n = db.execute(
            "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents"
        ).fetchone()
        base = gpkg.gpkg_bbox_search(path, (w, s, e, n))
        # drop the Annex-F.3 maintenance triggers first: they call GPKG
        # ST_* functions this raw connection doesn't provide, and the
        # envelope VALUES don't change (only their byte order), so the
        # existing rtree stays exact
        for (tg,) in db.execute(
            "SELECT name FROM sqlite_master WHERE type='trigger'"
        ).fetchall():
            db.execute(f'DROP TRIGGER "{tg}"')
        # rewrite EVERY blob's header big-endian: flip flags bit 0, swap
        # srs_id + envelope doubles; WKB bytes (self-describing) unchanged
        rows = db.execute("SELECT fid, geom FROM buildings").fetchall()
        for fid, blob in rows:
            flags = blob[3]
            assert flags & 1 == 1  # engine writes little-endian headers
            env_type = (flags >> 1) & 0b111
            assert env_type == 1
            srs = struct.unpack_from("<i", blob, 4)[0]
            env = struct.unpack_from("<dddd", blob, 8)
            be = (
                blob[:3]
                + bytes([flags & ~1])
                + struct.pack(">i", srs)
                + struct.pack(">dddd", *env)
                + blob[40:]
            )
            db.execute(
                "UPDATE buildings SET geom = ? WHERE fid = ?", (be, fid)
            )
        db.commit()
    finally:
        db.close()
    out = gpkg.gpkg_bbox_search(path, (w, s, e, n))
    assert len(out) == len(base) == 250
    # a narrow window (centered on one feature, so never empty) agrees
    # with a pandas-side exact bbox filter
    import numpy as np

    from open_buildings_spark.geo import kernels
    from open_buildings_spark.geo.wkt import parse_wkt_batch

    bb0 = kernels.bboxes(parse_wkt_batch(base["wkt"].iloc[:1]))[0]
    win = (float(bb0[0]), float(bb0[1]), float(bb0[2]) + 0.01, float(bb0[3]) + 0.01)
    a = set(gpkg.gpkg_bbox_search(path, win)["doc_id"])
    b = set(base.loc[[_bbox_hits(r, win) for r in base["wkt"]], "doc_id"])
    assert a == b and len(a) > 0
    # and an empty window keeps the header-derived schema
    empty = gpkg.gpkg_bbox_search(path, (w - 20.0, s - 20.0, w - 19.0, s - 19.0))
    assert len(empty) == 0 and "doc_id" in empty.columns and "wkt" in empty.columns


def _bbox_hits(wkt: str, win) -> bool:
    import numpy as np

    from open_buildings_spark.geo import kernels
    from open_buildings_spark.geo.wkt import parse_wkt_batch

    w, s, e, n = win
    bb = kernels.bboxes(parse_wkt_batch(pd.Series([wkt])))[0]
    return bb[0] <= e and bb[2] >= w and bb[1] <= n and bb[3] >= s


def test_gp_headers_np_byte_identical():
    """The vectorized executor-side header builder must equal the scalar
    spec encoder byte-for-byte (it ships inside the GeoPackageBinary
    blobs now)."""
    import numpy as np

    from open_buildings_spark.operators.gpkg import gp_header, gp_headers_np

    rng = np.random.RandomState(3)
    bb = rng.uniform(-180, 180, (500, 4))
    bb = np.concatenate([bb, [[0.0, -0.0, np.float64(1e-300), 180.0]]])
    h = gp_headers_np(4326, bb)
    for i in range(len(bb)):
        assert h[i].tobytes() == gp_header(4326, tuple(bb[i]))


def test_bulk_insert_respects_old_sqlite_variable_cap(monkeypatch):
    """SQLite builds before 3.32 cap bound parameters at 999 per statement:
    with the version reported as 3.31, ``_bulk_insert`` must size its
    multi-row INSERTs under that cap. The connection enforces the old limit
    itself, so an oversized statement fails here exactly as it would on
    such a build."""
    monkeypatch.setattr(gpkg.sqlite3, "sqlite_version_info", (3, 31, 1))
    ncols = 10
    db = sqlite3.connect(":memory:")
    db.setlimit(sqlite3.SQLITE_LIMIT_VARIABLE_NUMBER, 999)
    cols = ", ".join(f"c{i}" for i in range(ncols))
    db.execute(f"CREATE TABLE t ({cols})")
    rows = [tuple(range(r, r + ncols)) for r in range(1000)]
    gpkg._bulk_insert(db, f"INTO t ({cols})", rows)
    assert db.execute("SELECT count(*), sum(c0) FROM t").fetchone() == (
        1000,
        sum(range(1000)),
    )
