"""GeoParquet / GeoJSON sinks + WKB countries ingestion path."""

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from open_buildings_spark import datagen
from open_buildings_spark.operators import enrich, sinks


@pytest.fixture(scope="module")
def small_geo(spark, docs):
    return (
        enrich.add_geo_columns(docs, drop_nongeo=True)
        .select("doc_id", "wkt", "quadkey")
        .limit(200)
    )


def test_write_geoparquet_roundtrip(spark, small_geo, tmp_path):
    path = str(tmp_path / "gpq")
    n_files = sinks.write_geoparquet(small_geo, path)
    assert n_files > 0
    # footer metadata per spec
    import glob

    f = sorted(glob.glob(f"{path}/*.parquet"))[0]
    meta = pq.read_schema(f).metadata
    geo = json.loads(meta[b"geo"])
    assert geo["primary_column"] == "geometry"
    assert geo["columns"]["geometry"]["encoding"] == "WKB"
    # WKB round-trips through the engine's own parser
    back = spark.read.parquet(path)
    assert back.count() == small_geo.count()
    row = back.first()
    from open_buildings_spark.geo.wkt import parse_wkb_batch
    import pandas as pd

    b = parse_wkb_batch(pd.Series([bytes(row.geometry)]))
    assert b.gtype[0] in (3, 6)
    assert b.n_rings >= 1


def test_wkb_multipolygon_roundtrip(spark, docs):
    multi = (
        enrich.extract_geometry(docs)
        .filter(F.col("wkt").startswith("MULTIPOLYGON"))
        .limit(5)
    )
    out = sinks.add_wkb_column(multi).select("wkt", "geometry").collect()
    import pandas as pd

    from open_buildings_spark.geo.wkt import parse_wkb_batch, parse_wkt_batch

    for r in out:
        a = parse_wkt_batch(pd.Series([r.wkt]))
        b = parse_wkb_batch(pd.Series([bytes(r.geometry)]))
        assert b.gtype[0] == 6
        assert a.n_rings == b.n_rings
        assert (a.coords == b.coords).all()


def test_write_geojson(spark, small_geo, tmp_path):
    path = str(tmp_path / "out.json")
    n = sinks.write_geojson(small_geo.limit(20), path)
    fc = json.load(open(path))
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == n == 20
    f0 = fc["features"][0]
    assert f0["geometry"]["type"] in ("Polygon", "MultiPolygon")
    assert "doc_id" in f0["properties"]


def test_country_join_from_wkb_table(spark, docs):
    cdf = datagen.countries_df(spark)
    out = enrich.add_country_iso_from_table(docs, cdf)
    got = (
        out.filter(F.col("wkt").isNotNull())
        .groupBy("country_iso")
        .count()
        .toPandas()
        .set_index("country_iso")["count"]
    )
    # every building lands in a country; the overlap country A0 wins its
    # west-half region of city 0 (min-ISO tie-break)
    assert got.sum() == out.filter(F.col("wkt").isNotNull()).count()
    assert "A0" in got.index and got["A0"] > 0
    assert set(got.index) <= {"A0", "AA", "BB", "CC", "DD", "EE"}


def test_stac_catalog_from_manifest(spark, docs, tmp_path):
    """S11: STAC items/catalog/collection emitted from the table manifest
    (reference intent: google/stac-geoparquet.py, declared non-working)."""
    import json
    import os

    from open_buildings_spark.geo import mercator
    from open_buildings_spark.operators import enrich, sinks
    from open_buildings_spark.table import iceberg_lite as tbl

    root = str(tmp_path / "tbl")
    enriched = enrich.add_geo_columns(docs, drop_nongeo=True)
    tbl.write_partitioned(enriched, root, max_per_file=500)
    cat = sinks.write_stac_catalog(root)

    man = tbl.current_manifest(root)
    nfiles = sum(len(p["files"]) for p in man["partitions"])
    stac_dir = os.path.join(root, "metadata", "stac")
    item_links = [l for l in cat["links"] if l["rel"] == "item"]
    assert len(item_links) == nfiles

    # every item file exists, bbox matches its cell's tile bounds, and the
    # asset href resolves to the real data file
    part = man["partitions"][0]
    item_id = (
        os.path.splitext(part["files"][0])[0].replace(os.sep, "_").replace("=", "-")
    )
    with open(os.path.join(stac_dir, f"{item_id}.json")) as f:
        item = json.load(f)
    x, y, z = mercator.tile_from_quadkey(part["cell"])
    assert item["bbox"] == list(mercator.tile_bounds(x, y, z))
    assert item["properties"]["table:row_count"] == part["n_rows"]
    asset = os.path.normpath(os.path.join(stac_dir, item["assets"]["data"]["href"]))
    assert os.path.exists(asset)

    with open(os.path.join(stac_dir, "collection.json")) as f:
        coll = json.load(f)
    (bbox,) = coll["extent"]["spatial"]["bbox"]
    assert bbox[0] <= item["bbox"][0] and bbox[2] >= item["bbox"][2]


def test_geojson_export_row_cap(spark, small_geo, monkeypatch):
    """GeoJSON export is a driver-side collect; beyond the cap it must
    refuse loudly (point users at FGB/GeoParquet) instead of OOMing."""
    monkeypatch.setattr(sinks, "GEOJSON_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="capped"):
        sinks.to_geojson_features(small_geo)


def test_write_geoparquet_save_modes(spark, small_geo, tmp_path):
    path = str(tmp_path / "gpq_modes")
    n1 = sinks.write_geoparquet(small_geo, path)
    n = small_geo.count()
    # append must preserve pre-existing parts (doubles the row count)
    sinks.write_geoparquet(small_geo, path, mode="append")
    assert spark.read.parquet(path).count() == 2 * n
    # ignore: no-op when the target exists
    assert sinks.write_geoparquet(small_geo, path, mode="ignore") == 0
    assert spark.read.parquet(path).count() == 2 * n
    with pytest.raises(FileExistsError):
        sinks.write_geoparquet(small_geo, path, mode="error")
    with pytest.raises(ValueError):
        sinks.write_geoparquet(small_geo, path, mode="replace")
    # overwrite resets to one copy
    sinks.write_geoparquet(small_geo, path, mode="overwrite")
    assert spark.read.parquet(path).count() == n
    assert n1 > 0


def test_index_size_matches_spec_do_while():
    """FGB packed R-tree sizing is a do-while: 1 feature = leaf + root."""
    from open_buildings_spark.operators.flatgeobuf import _index_size

    assert _index_size(1, 16) == 80     # 1 leaf + 1 root
    assert _index_size(16, 16) == 680   # 16 leaves + 1 root
    assert _index_size(17, 16) == 800   # 17 + 2 + 1
    assert _index_size(0, 16) == 0


def test_geojson_holes_points_and_missing(spark):
    """GeoJSON export: holes stay interior rings, points are Points, and
    unparseable rows carry a null geometry."""
    from open_buildings_spark.operators.sinks import to_geojson_features

    df = spark.createDataFrame(
        [
            (1, "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2)))"),
            (2, "POINT (1 2)"),
            (3, None),
        ],
        "doc_id long, wkt string",
    )
    feats = {f["properties"]["doc_id"]: f["geometry"] for f in to_geojson_features(df)}
    mp = feats[1]
    assert mp["type"] == "MultiPolygon" and len(mp["coordinates"]) == 1
    assert len(mp["coordinates"][0]) == 2  # shell + interior hole, one part
    assert feats[2] == {"type": "Point", "coordinates": [1.0, 2.0]}
    assert feats[3] is None


def test_gpkg_shp_awkward_columns_and_big_ints(spark, tmp_path):
    """Keyword/odd column names and nullable bigints beyond 2^53 survive
    both driver-assembled sinks exactly."""
    from open_buildings_spark.operators import gpkg, shapefile

    big = 9007199254740993  # 2^53 + 1: float64 round-trips it WRONG
    df = spark.createDataFrame(
        [
            ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", big, "x"),
            ("POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))", None, "y"),
        ],
        "wkt string, `order` long, `class` string",
    )
    import pandas as pd

    g = str(tmp_path / "t.gpkg")
    gpkg.write_gpkg(df, g)
    back = gpkg.read_gpkg(g)
    vals = {
        r["class"]: (None if pd.isna(r["order"]) else int(r["order"]))
        for _, r in back.iterrows()
    }
    assert vals == {"x": big, "y": None}

    s = str(tmp_path / "t.shp")
    shapefile.write_shp(df, s)
    back2 = shapefile.read_shp(s)
    vals2 = {
        r["class"]: (None if pd.isna(r["order"]) else int(r["order"]))
        for _, r in back2.iterrows()
    }
    assert vals2 == {"x": big, "y": None}


def test_sharded_export_roundtrip_all_formats(spark, tmp_path):
    """Sharded geo export (one spec-complete file per quadkey shard +
    manifest) must round-trip through the standard per-file readers for
    all three formats, and shards must partition the corpus exactly."""
    from open_buildings_spark import datagen
    from open_buildings_spark.operators import enrich, sharded

    docs = datagen.interleaved_docs(spark, "/root/testdata/sf0.001").limit(800)
    g = enrich.add_geo_columns(docs, drop_nongeo=True).select(
        "doc_id", "quadkey", "wkt"
    )
    total = g.count()
    for fmt in ("fgb", "gpkg", "shp"):
        out = str(tmp_path / f"shards_{fmt}")
        manifest = sharded.sharded_export(g, out, fmt=fmt, level=6)
        assert manifest["total_rows"] == total
        assert len(manifest["shards"]) > 1  # actually sharded
        cells = [s["cell"] for s in manifest["shards"]]
        assert len(set(cells)) == len(cells)
        back = sharded.read_sharded(out)
        assert len(back) == total
        assert set(back["doc_id"]) == set(
            r["doc_id"] for r in g.select("doc_id").collect()
        )


def test_shp_writer_enforces_2gib_cap(spark, tmp_path, monkeypatch):
    """The shapefile format's signed-32 word offsets cap files at 2 GiB:
    the writer must refuse BEFORE assembling the final triple (cap
    shrunk via monkeypatch so the test stays small)."""
    import pytest

    from open_buildings_spark.operators import shapefile

    df = spark.createDataFrame(
        [(f"d{i}", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))") for i in range(50)],
        "doc_id string, wkt string",
    )
    monkeypatch.setattr(shapefile, "SHP_MAX_BYTES", 2000)
    dst = str(tmp_path / "cap.shp")
    with pytest.raises(ValueError, match="2 GiB"):
        shapefile.write_shp(df, dst)
    assert not os.path.exists(dst)  # nothing partial left behind


def test_sharded_export_exact_int64_with_nulls(spark, tmp_path):
    """Nullable bigint attributes beyond 2^53 must survive sharded export
    EXACTLY in every format: the shard builder receives Arrow batches and
    converts with Int64 nullable dtypes (Spark's default pandas conversion
    degrades int64-with-null columns to float64 and silently corrupts)."""
    from open_buildings_spark.operators import sharded

    big = (1 << 53) + 1
    df = spark.createDataFrame(
        [
            ("a", "300110130330", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", big),
            ("b", "300110130331", "POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0))", None),
            ("c", "122220000000", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))", big + 2),
        ],
        "doc_id string, quadkey string, wkt string, score bigint",
    )
    for fmt in ("fgb", "gpkg", "shp"):
        out = str(tmp_path / f"exact_{fmt}")
        sharded.sharded_export(df, out, fmt=fmt, level=4)
        back = sharded.read_sharded(out).set_index("doc_id")
        assert int(back.loc["a", "score"]) == big, fmt
        assert int(back.loc["c", "score"]) == big + 2, fmt
        assert back.loc["b", "score"] is None or str(back.loc["b", "score"]) in (
            "nan", "<NA>", "None",
        ), fmt


def test_sharded_export_null_quadkey_policy(spark, tmp_path):
    """Unroutable (NULL-quadkey) rows must fail the export loudly by
    default — mirroring the table layer's append guard — and drop only
    under the explicit skip policy."""
    import pytest

    from open_buildings_spark.operators import sharded

    df = spark.createDataFrame(
        [
            ("a", "300110130330", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
            ("b", None, "POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0))"),
        ],
        "doc_id string, quadkey string, wkt string",
    )
    with pytest.raises(Exception, match="NULL or too-short quadkey"):
        sharded.sharded_export(df, str(tmp_path / "err"), fmt="fgb", level=4)
    manifest = sharded.sharded_export(
        df, str(tmp_path / "skip"), fmt="fgb", level=4, on_null_quadkey="skip"
    )
    assert manifest["total_rows"] == 1


def test_sharded_to_df_window_query(spark, tmp_path):
    """The sharded FGB source must (1) round-trip all rows distributed,
    and (2) answer a bbox window query by pruning shards at the manifest
    level and features through each shard's packed R-tree — matching a
    brute-force bbox filter exactly."""
    from open_buildings_spark import datagen
    from open_buildings_spark.geo import kernels
    from open_buildings_spark.geo.wkt import parse_wkt_batch
    from open_buildings_spark.operators import enrich, sharded

    docs = datagen.interleaved_docs(spark, "/root/testdata/sf0.001").limit(600)
    g = enrich.add_geo_columns(docs, drop_nongeo=True).select(
        "doc_id", "quadkey", "wkt"
    )
    out = str(tmp_path / "src_shards")
    manifest = sharded.sharded_export(g, out, fmt="fgb", level=6)
    total = manifest["total_rows"]

    back = sharded.sharded_to_df(spark, out)
    assert back.count() == total
    assert set(r["doc_id"] for r in back.select("doc_id").collect()) == set(
        r["doc_id"] for r in g.select("doc_id").collect()
    )

    # window: the first city block's AOI bbox
    w, s, e, n = datagen.aoi_bounds(datagen.city_aoi())
    win = sharded.sharded_to_df(spark, out, bbox=(w, s, e, n)).toPandas()
    full = sharded.read_sharded(out)
    batch = parse_wkt_batch(full["wkt"])
    bb = kernels.bboxes(batch)
    want = (
        (bb[:, 0] <= e) & (bb[:, 2] >= w) & (bb[:, 1] <= n) & (bb[:, 3] >= s)
    )
    assert set(win["doc_id"]) == set(full["doc_id"][want])
    # every shard records its true data envelope for the manifest prune
    assert all(
        sh["envelope"][0] <= sh["envelope"][2] for sh in manifest["shards"]
    )


def test_sharded_to_df_window_query_gpkg_and_shp(spark, tmp_path):
    """The sharded source answers window queries for gpkg (rtree index
    walk) and shp (record-bbox filter) shard sets too, with identical
    bbox-intersect semantics; an all-pruned window keeps the full export
    schema (empty frame, not a wkt-only stub)."""
    from open_buildings_spark import datagen
    from open_buildings_spark.geo import kernels
    from open_buildings_spark.geo.wkt import parse_wkt_batch
    from open_buildings_spark.operators import enrich, sharded

    docs = datagen.interleaved_docs(spark, "/root/testdata/sf0.001").limit(400)
    g = enrich.add_geo_columns(docs, drop_nongeo=True).select(
        "doc_id", "quadkey", "wkt"
    )
    w, s, e, n = datagen.aoi_bounds(datagen.city_aoi())
    for fmt in ("gpkg", "shp"):
        out = str(tmp_path / f"src_{fmt}")
        sharded.sharded_export(g, out, fmt=fmt, level=6)
        win = sharded.sharded_to_df(spark, out, bbox=(w, s, e, n)).toPandas()
        full = sharded.read_sharded(out)
        batch = parse_wkt_batch(full["wkt"])
        bb = kernels.bboxes(batch)
        want = (
            (bb[:, 0] <= e) & (bb[:, 2] >= w)
            & (bb[:, 1] <= n) & (bb[:, 3] >= s)
        )
        assert set(win["doc_id"]) == set(full["doc_id"][want]), fmt
        # window far outside the data: all shards pruned, schema intact
        empty = sharded.sharded_to_df(spark, out, bbox=(170, -80, 171, -79))
        assert empty.columns == ["wkt", "doc_id", "quadkey"]
        assert empty.count() == 0


def test_gpkg_rtree_index_written_and_queried(spark, small_geo, tmp_path):
    """Engine-written GeoPackages carry the gpkg_rtree_index extension
    (OGC 12-128r19 Annex F.3): registered in gpkg_extensions, rtree
    virtual table populated 1:1 with features, maintenance triggers
    present — and gpkg_bbox_search answers through it, matching a
    brute-force bbox filter (also without the index)."""
    import sqlite3

    import numpy as np

    from open_buildings_spark.geo import kernels
    from open_buildings_spark.geo.wkt import parse_wkt_batch
    from open_buildings_spark.operators import gpkg

    path = str(tmp_path / "idx.gpkg")
    n = gpkg.write_gpkg(small_geo, path)
    assert n > 0
    db = sqlite3.connect(path)
    ext = db.execute(
        "SELECT extension_name, scope FROM gpkg_extensions"
    ).fetchall()
    assert ("gpkg_rtree_index", "write-only") in ext
    layer, gcol = gpkg._feature_layer(db, None)
    rt = f"rtree_{layer}_{gcol}"
    assert db.execute(f'SELECT count(*) FROM "{rt}"').fetchone()[0] == n
    trigs = {
        r[0]
        for r in db.execute(
            "SELECT name FROM sqlite_master WHERE type='trigger'"
        )
    }
    assert {f"{rt}_insert", f"{rt}_update1", f"{rt}_delete"} <= trigs
    db.close()

    full = gpkg.read_gpkg(path)
    batch = parse_wkt_batch(full["wkt"])
    bb = kernels.bboxes(batch)
    ok = batch.gtype != -1
    mid = len(full) // 2
    w, s, e, nn = bb[mid, 0] - 1e-9, bb[mid, 1] - 1e-9, bb[mid, 2] + 1e-9, bb[mid, 3] + 1e-9
    want = set(
        np.nonzero(ok & (bb[:, 0] <= e) & (bb[:, 2] >= w)
                   & (bb[:, 1] <= nn) & (bb[:, 3] >= s))[0].tolist()
    )
    got = gpkg.gpkg_bbox_search(path, (w, s, e, nn))
    assert len(got) == len(want) and len(got) >= 1
    # drop the index: the envelope-scan fallback must agree
    db = sqlite3.connect(path)
    for t in ("", "_node", "_rowid", "_parent"):
        db.execute(f'DROP TABLE IF EXISTS "{rt}{t}"')
    db.commit()
    db.close()
    got2 = gpkg.gpkg_bbox_search(path, (w, s, e, nn))
    assert sorted(got2["wkt"]) == sorted(got["wkt"])


def test_sharded_window_finds_tile_spilling_geometry(spark, tmp_path):
    """A geometry's quadkey anchors at its bbox MIDPOINT, so it can spill
    past its shard's tile; a window over the spilled part only must still
    find it (the manifest prunes on the recorded data envelope, not tile
    bounds)."""
    from open_buildings_spark.geo import mercator
    from open_buildings_spark.operators import enrich, sharded

    # polygon spanning ~0.4 deg: its level-8 home tile (~1.4 deg at z8,
    # but level=10 shards are ~0.35 deg) cannot contain it
    wkt = "POLYGON ((10.0 50.0, 10.4 50.0, 10.4 50.3, 10.0 50.3, 10.0 50.0))"
    df = spark.createDataFrame([("d1", wkt)], "doc_id string, wkt string")
    g = enrich.add_geo_columns(df, drop_nongeo=True).select(
        "doc_id", "quadkey", "wkt"
    )
    out = str(tmp_path / "spill")
    manifest = sharded.sharded_export(g, out, fmt="fgb", level=10)
    [shard] = manifest["shards"]
    x, y, z = mercator.tile_from_quadkey(shard["cell"])
    tw, ts, te, tn = mercator.tile_bounds(x, y, z)
    # window over the polygon's south-west corner, chosen OUTSIDE the
    # shard's tile bounds (the pre-fix tile-bounds prune would have
    # dropped the shard) — assert that precondition actually holds
    win = (10.0, 50.0, 10.02, 50.02)
    assert not (
        tw <= win[2] and te >= win[0] and ts <= win[3] and tn >= win[1]
    ), (shard["cell"], (tw, ts, te, tn))
    got = sharded.sharded_to_df(spark, out, bbox=win).toPandas()
    assert list(got["doc_id"]) == ["d1"]


def test_write_shp_all_null_batch_partition(spark, tmp_path):
    """A partition whose every row has null/garbage WKT must be skipped,
    not crash the fast-path prefilter (zero-ring batches)."""
    from open_buildings_spark.operators import shapefile

    good = [(i, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))") for i in range(3)]
    bad = [(10 + i, None) for i in range(3)] + [(20, "not wkt")]
    df = spark.createDataFrame(
        good + bad, "doc_id long, wkt string"
    ).repartition(4)
    n = shapefile.write_shp(df, str(tmp_path / "nulls.shp"))
    assert n == 3
    back = shapefile.read_shp(str(tmp_path / "nulls.shp"))
    assert sorted(back["doc_id"]) == [0, 1, 2]


def test_sharded_shp_truncated_names_and_gpkg_bool(spark, tmp_path):
    """Shapefile shard manifests record DBF-truncated (10-char) attribute
    names so the distributed reader's schema matches what .dbf files
    actually carry; colliding truncations are refused; gpkg shard sets
    round-trip boolean columns (SQLite stores them as 0/1 ints)."""
    import pytest as _pytest

    from open_buildings_spark.operators import enrich, sharded, shapefile

    from open_buildings_spark import datagen

    docs = datagen.interleaved_docs(spark, "/root/testdata/sf0.001").limit(80)
    g = enrich.add_geo_columns(docs, drop_nongeo=True).select(
        "doc_id",
        "quadkey",
        "wkt",
        (F.length("doc_id") % 2 == 0).alias("flag_even_len"),
    )
    # shp: long name comes back truncated to 10 chars
    out = str(tmp_path / "longnames")
    sharded.sharded_export(
        g.withColumnRenamed("flag_even_len", "long_column_name"), out,
        fmt="shp", level=4,
    )
    back = sharded.sharded_to_df(spark, out)
    assert "long_colum" in back.columns
    assert back.count() == g.count()
    # colliding truncations refused
    with _pytest.raises(ValueError, match="collide"):
        shapefile.shp_columns(
            spark.range(1).select(
                F.lit("x").alias("same_prefix_a"),
                F.lit("y").alias("same_prefix_b"),
                F.lit("POINT (0 0)").alias("wkt"),
            ).schema.fields,
            "wkt",
        )
    # gpkg: boolean column survives the int-storage round trip
    out2 = str(tmp_path / "boolcol")
    sharded.sharded_export(g, out2, fmt="gpkg", level=4)
    back2 = sharded.sharded_to_df(spark, out2)
    got = {r["doc_id"]: r["flag_even_len"] for r in back2.collect()}
    exp = {r["doc_id"]: r["flag_even_len"] for r in g.collect()}
    assert got == exp
    assert dict(back2.dtypes)["flag_even_len"] == "boolean"
