"""Spark-level operator tests against the pure-Python oracle (tests/oracle.py)
and the per-row span-sequence invariant (BASELINE.json input_hint)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_buildings_spark import datagen
from open_buildings_spark.operators import aoi as aoi_op
from open_buildings_spark.operators import enrich, explode, knn, partition, tiles
from tests import oracle


@pytest.fixture(scope="module")
def buildings_pdf(spark, sf_dir):
    return (
        datagen.derive_buildings(spark, sf_dir)
        .select("doc_id", "lon", "lat", "r", "qk", "qk_media", "has_geom", "is_multi")
        .toPandas()
    )


def test_enrich_quadkey_matches_oracle(spark, docs, buildings_pdf):
    got = (
        enrich.add_geo_columns(docs, drop_nongeo=True)
        .select("doc_id", "quadkey")
        .toPandas()
    )
    exp = buildings_pdf[buildings_pdf.has_geom]
    m = got.merge(exp[["doc_id", "qk"]], on="doc_id", how="outer", indicator=True)
    assert (m["_merge"] == "both").all()
    assert (m.quadkey == m.qk).all()
    # independent scalar oracle on a sample
    for _, row in exp.head(50).iterrows():
        assert oracle.quadkey_z12(row.lon, row.lat) == row.qk


def test_aoi_query_rowset_matches_oracle(spark, docs, buildings_pdf):
    aoi = datagen.city_aoi()
    w, s, e, n = datagen.aoi_bounds(aoi)
    got = set(
        r["doc_id"] for r in aoi_op.aoi_query(docs, aoi).select("doc_id").collect()
    )
    exp = set()
    for _, b in buildings_pdf[buildings_pdf.has_geom].iterrows():
        maxx = b.lon + (7 * b.r if b.is_multi else b.r)
        if oracle.rect_within(b.lon - b.r, b.lat - b.r, maxx, b.lat + b.r, w, s, e, n):
            exp.add(b.doc_id)
    assert got == exp
    assert len(got) > 0


def test_aoi_boundary_buildings_excluded(spark):
    """Footprints straddling the AOI edge must be excluded (ST_Within)."""
    aoi = {
        "type": "Feature",
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
        },
    }
    rows = [
        ("in", "POLYGON ((0.4 0.4, 0.6 0.4, 0.6 0.6, 0.4 0.6, 0.4 0.4))"),
        ("straddle", "POLYGON ((0.9 0.4, 1.1 0.4, 1.1 0.6, 0.9 0.6, 0.9 0.4))"),
        ("outside", "POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))"),
        ("touch_inside", "POLYGON ((0 0, 0.2 0, 0.2 0.2, 0 0.2, 0 0))"),
    ]
    docs = (
        spark.createDataFrame(rows, "doc_id string, wkt string")
        .withColumn(
            "spans",
            F.array(
                F.struct(
                    F.lit("geometry").alias("kind"),
                    F.col("wkt").alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ),
        )
        .drop("wkt")
    )
    got = sorted(r["doc_id"] for r in aoi_op.aoi_query(docs, aoi).collect())
    assert got == ["in", "touch_inside"]


def test_span_invariant_through_aoi_query(spark, docs):
    """Output spans byte-equal the source doc's spans, order preserved."""
    aoi = datagen.city_aoi()
    out = aoi_op.aoi_query(docs, aoi).select("doc_id", "spans")
    src = docs.select("doc_id", F.col("spans").alias("src_spans"))
    joined = out.join(src, "doc_id")
    bad = joined.filter(
        F.to_json(F.col("spans")) != F.to_json(F.col("src_spans"))
    ).count()
    assert bad == 0
    # offsets strictly increasing in every surviving row
    mono = joined.withColumn(
        "sorted_ok",
        F.col("spans")
        == F.array_sort(
            F.col("spans"), lambda a, b: a["offset"].cast("int") - b["offset"].cast("int")
        ),
    )
    assert mono.filter(~F.col("sorted_ok")).count() == 0


def test_partition_plan_respects_cap_and_total(spark, docs):
    g = enrich.add_geo_columns(docs, drop_nongeo=True)
    total = g.count()
    plan = partition.partition_plan(g, 200).toPandas()
    assert plan.n_rows.sum() == total
    # every leaf over the cap must be a full-depth (12-char) cell
    over = plan[plan.n_rows > 200]
    assert (over.cell.str.len() == 12).all()
    # leaves are prefix-disjoint
    cells = sorted(plan.cell.tolist())
    for a, b in zip(cells, cells[1:]):
        assert not b.startswith(a)


def test_partition_plan_rows_land_in_their_cell(spark, docs):
    g = enrich.add_geo_columns(docs, drop_nongeo=True)
    plan = partition.partition_plan(g, 500)
    tagged = partition.tag_cells(g, plan.select("cell"))
    assert tagged.filter(F.col("cell").isNull()).count() == 0
    bad = tagged.filter(~F.col("quadkey").startswith(F.col("cell"))).count()
    assert bad == 0


def test_knn_matches_bruteforce(spark, docs, buildings_pdf):
    g = enrich.add_geo_columns(docs, drop_nongeo=True)
    b = g.select("doc_id", "quadkey", "lon", "lat").cache()
    queries = [(0, buildings_pdf.lon.iloc[0] + 0.01, buildings_pdf.lat.iloc[0] + 0.01)]
    got = (
        knn.knn(spark, b, queries, k=7)
        .orderBy("rank")
        .select("doc_id", "rank")
        .toPandas()
    )
    bp = buildings_pdf[buildings_pdf.has_geom].copy()
    # centroid of multis sits at lon + 3r
    bp["clon"] = bp.lon + np.where(bp.is_multi, 3 * bp.r, 0.0)
    qlon, qlat = queries[0][1], queries[0][2]

    def hav(lon, lat):
        R = 6371008.8
        p = np.pi / 180
        a = (
            np.sin((qlat - lat) * p / 2) ** 2
            + np.cos(lat * p) * np.cos(qlat * p) * np.sin((qlon - lon) * p / 2) ** 2
        )
        return 2 * R * np.arcsin(np.sqrt(a))

    bp["d"] = hav(bp.clon.to_numpy(), bp.lat.to_numpy())
    exp = bp.sort_values(["d", "doc_id"]).head(7).doc_id.tolist()
    assert got.doc_id.tolist() == exp


def test_tile_assignment_matches_derivation(spark, docs, buildings_pdf):
    t = tiles.tile_assignment(docs).toPandas()
    exp = buildings_pdf[buildings_pdf.has_geom]
    m = t.merge(exp[["doc_id", "qk", "qk_media"]], on="doc_id")
    assert len(m) == len(exp)
    assert (m.quadkey == m.qk).all()
    assert (m.media_qk == m.qk_media).all()
    assert (m.tile_match == (m.qk == m.qk_media)).all()


def test_explode_part_counts(spark, docs, buildings_pdf):
    parts = explode.explode_multipolygons(docs).groupBy("doc_id").count().toPandas()
    exp = buildings_pdf[buildings_pdf.has_geom]
    m = parts.merge(exp[["doc_id", "is_multi"]], on="doc_id", how="outer", indicator=True)
    assert (m["_merge"] == "both").all()
    assert (m["count"] == np.where(m.is_multi, 2, 1)).all()


def test_explode_pluscode_matches_olc_kernel(spark, docs):
    from open_buildings_spark.geo import olc

    sample = (
        explode.explode_multipolygons(docs)
        .select("doc_id", "part_idx", "part_wkt", "plus_code")
        .limit(20)
        .toPandas()
    )
    from open_buildings_spark.geo import kernels
    from open_buildings_spark.geo.wkt import parse_wkt_batch

    batch = parse_wkt_batch(pd.Series(sample.part_wkt.tolist()))
    cen = kernels.centroids(batch)
    for i, code in enumerate(sample.plus_code):
        assert code == olc.encode(cen[i, 1], cen[i, 0], 12)


def test_country_join_min_iso_tiebreak(spark):
    """A footprint inside the overlap region of two countries gets the
    lexicographically smallest ISO."""
    clist = [
        ("ZZ", [([[0.0, 0.0], [10, 0], [10, 10], [0, 10], [0, 0]], False)]),
        ("AM", [([[5.0, 0.0], [15, 0], [15, 10], [5, 10], [5, 0]], False)]),
    ]
    docs = spark.createDataFrame(
        [("overlap", "POLYGON ((6 1, 7 1, 7 2, 6 2, 6 1))"),
         ("onlyzz", "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"),
         ("nowhere", "POLYGON ((40 40, 41 40, 41 41, 40 41, 40 40))")],
        "doc_id string, wkt string",
    )
    out = {r["doc_id"]: r["country_iso"] for r in enrich.add_country_iso(docs, clist).collect()}
    assert out == {"overlap": "AM", "onlyzz": "ZZ", "nowhere": None}


def test_places_point_pipeline(spark, sf_dir):
    """Overture places path (points): POINT WKT through the single-parse
    enrichment reproduces the integer-interleave quadkey for every place and
    assigns countries with the min-ISO tie-break (A0 overlaps AA on city
    0's west half) — reference overture/places_add_columns.py:26-66."""
    from open_buildings_spark import datagen

    places = datagen.places_df(spark, sf_dir)
    clist = [
        (iso, [([[w, s], [e, s], [e, n], [w, n], [w, s]], False)])
        for iso, (w, s, e, n) in datagen.countries()
    ]
    # enrichment emits its own lon/lat (for a point: the point itself)
    out = enrich.add_places_columns(
        places.select("place_id", "qk", "city", "wkt"), clist
    ).cache()
    assert out.filter(F.col("quadkey") != F.col("qk")).count() == 0
    # every place lands in its city's country; west half of city 0 -> A0
    w, s, e, n = datagen._city_rect(0, margin=0.0)
    mid = (w + e) / 2.0
    bad = out.filter(
        (
            (F.col("city") == 0)
            & (F.col("country_iso") != F.when(F.col("lon") <= mid, "A0").otherwise("AA"))
        )
        | ((F.col("city") == 1) & (F.col("country_iso") != "BB"))
        | ((F.col("city") == 4) & (F.col("country_iso") != "EE"))
    ).count()
    assert bad == 0
    assert out.filter(F.col("country_iso") == "A0").count() > 0


def test_multipolygon_aoi_query(spark, docs):
    """A MultiPolygon AOI (two disjoint rects) returns exactly the union of
    the per-rect hits — previously its parts were misread as shell+holes."""
    from open_buildings_spark import datagen
    from open_buildings_spark.operators import aoi as aoi_op

    aois = datagen.multi_aois()[:2]
    singles = [f for _, f in aois]
    multi = {
        "type": "Feature",
        "properties": {},
        "geometry": {
            "type": "MultiPolygon",
            "coordinates": [f["geometry"]["coordinates"] for f in singles],
        },
    }
    n_union = aoi_op.aoi_query(docs, multi).count()
    n_parts = sum(aoi_op.aoi_query(docs, f).count() for f in singles)
    assert n_union == n_parts > 0


def test_knn_anchor_offset_allowance(spark, docs, buildings_pdf):
    """Ring growth from ``initial_ring=1`` (``max_ring=64``) ends on the
    same neighbors as the default start: the exactness check needs no
    anchor-offset allowance, because candidates are filtered by the point
    that is ranked."""
    g = enrich.add_geo_columns(docs, drop_nongeo=True)
    b = g.select("doc_id", "quadkey", "lon", "lat").cache()
    queries = [(0, buildings_pdf.lon.iloc[0] + 0.01, buildings_pdf.lat.iloc[0] + 0.01)]
    base = knn.knn(spark, b, queries, k=5).orderBy("rank").toPandas()
    grown = knn.knn(
        spark, b, queries, k=5, initial_ring=1, max_ring=64
    ).orderBy("rank").toPandas()
    assert base.doc_id.tolist() == grown.doc_id.tolist()


def test_big_aoi_join_matches_broadcast_path(spark, docs):
    """aoi_join_big (distributed cover + shuffle join + pair refine) must
    return the exact row set of aoi_join (driver cells + broadcast) on the
    same AOIs — including a polygon WITH A HOLE and an AOI pair that
    overlaps (docs in both appear once per AOI)."""
    from open_buildings_spark import datagen
    from open_buildings_spark.operators import spatial_join

    feats = datagen.multi_aois()[:3]  # two dense AOIs + one overlapping

    def to_wkt(f):
        rings = f["geometry"]["coordinates"]
        return "POLYGON (" + ", ".join(
            "(" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + ")"
            for ring in rings
        ) + ")"

    # add a donut AOI: AOI 1's rect with a centered hole — buildings inside
    # the hole must NOT match
    base = feats[0][1]["geometry"]["coordinates"][0]
    xs = [p[0] for p in base]
    ys = [p[1] for p in base]
    w, e, s, n = min(xs), max(xs), min(ys), max(ys)
    mw, me = w + (e - w) * 0.3, w + (e - w) * 0.7
    ms, mn = s + (n - s) * 0.3, s + (n - s) * 0.7
    donut_feat = {
        "type": "Feature",
        "properties": {},
        "geometry": {
            "type": "Polygon",
            "coordinates": [
                base,
                [[mw, ms], [me, ms], [me, mn], [mw, mn], [mw, ms]],
            ],
        },
    }
    all_feats = [(aid, f) for aid, f in feats] + [(99, donut_feat)]
    wkt_rows = [
        (aid, to_wkt(f)) for aid, f in all_feats
    ]
    aois_df = spark.createDataFrame(wkt_rows, "aoi_id int, wkt string")

    big = (
        spatial_join.aoi_join_big(docs, aois_df, cover_level=12)
        .select("doc_id", "aoi_id")
        .toPandas()
        .sort_values(["doc_id", "aoi_id"])
        .reset_index(drop=True)
    )
    small = (
        spatial_join.aoi_join(docs, all_feats, cover_level=10)
        .select("doc_id", "aoi_id")
        .toPandas()
        .sort_values(["doc_id", "aoi_id"])
        .reset_index(drop=True)
    )
    assert len(big) == len(small) > 0
    assert (big.doc_id.to_numpy() == small.doc_id.to_numpy()).all()
    assert (big.aoi_id.to_numpy() == small.aoi_id.to_numpy()).all()
    # the donut excludes its hole: strictly fewer hits than the full rect
    n_donut = int((big.aoi_id == 99).sum())
    n_full = int((big.aoi_id == feats[0][0]).sum())
    assert 0 < n_donut < n_full


def test_knn_auto_offset_exact_on_asymmetric_footprints(spark, tmp_path):
    """Corpus where centroid != bbox midpoint: a flag-shaped footprint has
    its area centroid ~50 m from the query but its quadkey anchor (bbox
    midpoint) ~1.7 tiles away. From a one-tile ring, kNN returns the
    brute-force result both over a frame (candidates are filtered by
    centroid) and over a table whose cap puts the flag in a leaf of its own
    outside that ring (the read is padded by the stored anchor bound)."""
    import numpy as np

    from open_buildings_spark.geo import mercator

    qx = mercator.tile_bounds(2200, 1800, 12)[0] + 0.044  # ~tile center
    qy = (mercator.tile_bounds(2200, 1800, 12)[1] + mercator.tile_bounds(2200, 1800, 12)[3]) / 2

    def square(cx, cy, r=1e-4):
        pts = [(cx - r, cy - r), (cx + r, cy - r), (cx + r, cy + r), (cx - r, cy + r), (cx - r, cy - r)]
        return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + "))"

    rows = []
    # five compact squares 150-500 m from the query, same tile
    for i, (dx, dy) in enumerate([(0.002, 0), (0, 0.003), (-0.003, 0.001), (0.004, 0.002), (-0.002, -0.004)]):
        rows.append((f"sq-{i}", square(qx + dx, qy + dy)))
    # flag shape: 100 m square at the query + a 0.3-deg hair-thin east tail
    a, t = 5e-4, 1e-8
    flag = [
        (qx - a, qy - a), (qx + 0.3, qy - a), (qx + 0.3, qy - a + t),
        (qx + a, qy - a + t), (qx + a, qy + a), (qx - a, qy + a), (qx - a, qy - a),
    ]
    rows.append(("flag", "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in flag) + "))"))
    df = spark.createDataFrame(rows, "doc_id string, wkt string")
    g = enrich.add_geo_columns(df, drop_nongeo=True)
    b = g.select("doc_id", "quadkey", "lon", "lat").cache()
    pdf = b.toPandas()
    # anchor tile of the flag differs from its centroid tile (the setup's
    # whole point) — assert so the fixture can't silently degrade
    flag_qk = pdf[pdf.doc_id == "flag"].quadkey.iloc[0]
    assert flag_qk != mercator.lat_lon_to_quadkey(qy, qx, 12)

    # brute force over the 6 docs
    def hav(lon, lat):
        R = 6371008.8
        p1, p2 = np.radians(lat), np.radians(qy)
        dl = np.radians(lon - qx)
        x = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
        return 2 * R * np.arcsin(np.sqrt(x))

    pdf["d"] = hav(pdf.lon.to_numpy(), pdf.lat.to_numpy())
    want = pdf.sort_values(["d", "doc_id"]).doc_id.head(5).tolist()
    assert "flag" in want

    queries = [(0, qx, qy)]
    exact = knn.knn(spark, b, queries, k=5, initial_ring=1).orderBy("rank").toPandas()
    assert exact.doc_id.tolist() == want

    from open_buildings_spark.table import iceberg_lite as tbl

    root = str(tmp_path / "flag_tbl")
    m = tbl.write_partitioned(g, root, max_per_file=2)
    flag_leaf = [p["cell"] for p in m["partitions"] if flag_qk.startswith(p["cell"])]
    ring1 = knn._ring_cells(qx, qy, 1)
    # the flag's file lies outside the one-tile ring: only the pad reads it
    assert not any(c.startswith(flag_leaf[0]) for c in ring1)
    served = knn.knn(
        spark, None, queries, k=5, initial_ring=1, table_root=root
    ).orderBy("rank").toPandas()
    assert served.doc_id.tolist() == want


def test_hier_histogram_bounds_driver_collect(spark):
    """The planner's driver collect must be a small fraction of the distinct
    z12 cells on skewed data: coarse rows for under-cap z8 regions, z12
    detail only inside over-cap ones — and the resulting leaf plan must
    still partition the corpus exactly (disjoint prefixes, counts sum)."""
    import itertools

    from open_buildings_spark.operators import partition

    rows = []
    digits = ["0", "1", "2", "3"]
    # 256 under-cap z8 cells ('0' + 7 digits), each with 64 z12 cells x 5 rows
    for combo in itertools.product(digits, repeat=4):
        z8 = "0" + "".join(combo) + "000"
        for combo2 in itertools.product(digits, repeat=3):
            rows.extend((z8 + "0" + "".join(combo2),) for _ in range(5))
    # one dense z8 cell ('3' * 8): 256 z12 cells x 16 rows -> over cap
    for combo in itertools.product(digits, repeat=4):
        rows.extend(("33333333" + "".join(combo),) for _ in range(16))
    rows = [r for r in rows]
    df = spark.createDataFrame(rows, "quadkey string")
    n_z12 = df.select("quadkey").distinct().count()
    cap = 1000
    hist, n_collected = partition.hier_histogram(df, cap)
    assert n_collected < 0.3 * n_z12, (n_collected, n_z12)
    plan = partition.partition_plan(df, cap).toPandas()
    # leaves disjoint by prefix and counts sum to the corpus
    assert plan.n_rows.sum() == df.count()
    cells = sorted(plan.cell.tolist())
    for a, b in zip(cells, cells[1:]):
        assert not b.startswith(a), (a, b)


def test_hier_histogram_null_key_group_splits(spark):
    """A NULL partition-key group over the cap must still split to z12:
    window partitioning groups NULLs together (the old equi-join split
    never matched NULL keys and left the group as one coarse row)."""
    from open_buildings_spark.operators import partition

    rows = [(None, "333333330" + d1 + d2 + d3) for d1 in "0123"
            for d2 in "0123" for d3 in "0123" for _ in range(4)]
    rows += [("FR", "000000000000")] * 3  # small named group, under cap
    df = spark.createDataFrame(rows, "country string, quadkey string")
    hist, _ = partition.hier_histogram(df, max_per_file=50, keys=["country"])
    null_rows = hist[hist.country.isna()]
    # 4*4*4=64 z12 cells x 4 rows = 256 > 50 -> must be split to z12 detail
    assert len(null_rows) == 64, len(null_rows)
    assert (null_rows.qk.str.len() == 12).all()
    assert null_rows.n.sum() == 256
    fr = hist[hist.country == "FR"]
    assert len(fr) == 1 and fr.qk.str.len().iloc[0] == partition.COARSE_LEVEL


def test_keyed_write_rejects_non_string_keys(spark, tmp_path):
    """Hive directory values read back as strings, so a non-string key
    column would change type on read; write_partitioned must refuse."""
    import pytest as _pytest

    from open_buildings_spark.table import iceberg_lite as tbl

    df = spark.createDataFrame(
        [(1, "000000000000", "POINT (0 0)")],
        "region int, quadkey string, wkt string",
    )
    with _pytest.raises(ValueError, match="string-typed"):
        tbl.write_partitioned(
            df, str(tmp_path / "t"), max_per_file=10, keys=["region"]
        )


def test_connected_components_multihop_chain(spark):
    """Hash-min propagation must close multi-hop chains (diameter > 1), not
    just direct pairs: chain 1-2-3-4-5 plus pair 10-11 plus singleton 99."""
    from open_buildings_spark.operators import dedup

    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]], "id long")
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (4, 5), (10, 11)], "a long, b long"
    )
    got = {
        r["id"]: r["canonical_id"]
        for r in dedup.connected_components(ids, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}


def test_knn_join_matches_brute_force(spark):
    """knn_join (table x table) equals brute-force crossJoin ranking on a
    synthetic grid, including a doc whose anchor tile differs from its
    ranked centroid (nonzero anchor offset) and a point with fewer than k
    docs in radius."""
    from open_buildings_spark.functions import haversine_m
    from open_buildings_spark.geo import mercator
    from open_buildings_spark.operators import knn as knn_op
    from pyspark.sql import Window

    # docs scattered around tile (2466, 2062) at z12; lat/lon from tile math
    base_tx, base_ty = 2466.0, 2062.0
    rows = []
    for i in range(40):
        ftx = base_tx + (i % 8) * 0.37 + 0.13
        fty = base_ty + (i // 8) * 0.41 + 0.11
        lon = ftx / 4096.0 * 360.0 - 180.0
        import math as _m

        lat = _m.degrees(_m.atan(_m.sinh(_m.pi * (1 - 2 * fty / 4096.0))))
        qk = mercator.quadkey_from_tile(int(ftx), int(fty), 12)
        rows.append((i, qk, lon, lat))
    docs = spark.createDataFrame(rows, "doc_id long, quadkey string, lon double, lat double")
    pts = spark.createDataFrame(
        [(100, rows[5][2], rows[5][3]), (200, rows[30][2] + 0.5, rows[30][3])],
        "place_id long, lon double, lat double",
    )
    radius = 20000.0
    got = knn_op.knn_join(pts, docs, k=4, radius_m=radius, anchor_offset_m=2000.0)
    got_rows = {(r["place_id"], r["doc_id"], r["rank"]) for r in got.collect()}

    d = docs.crossJoin(
        pts.select(
            F.col("place_id"), F.col("lon").alias("plon"), F.col("lat").alias("plat")
        )
    ).withColumn(
        "dist", haversine_m(F.col("lon"), F.col("lat"), F.col("plon"), F.col("plat"))
    )
    w = Window.partitionBy("place_id").orderBy(F.col("dist").asc(), F.col("doc_id").asc())
    exp = (
        d.filter(F.col("dist") <= radius)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 4)
    )
    exp_rows = {(r["place_id"], r["doc_id"], r["rank"]) for r in exp.collect()}
    assert got_rows == exp_rows
    assert len(exp_rows) > 0


def test_stratified_sample_deterministic_and_capped(spark):
    from open_buildings_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(200)], "doc_id long, stratum string"
    )
    a = sampling.stratified_sample(df, "stratum", 10)
    b = sampling.stratified_sample(df.repartition(7), "stratum", 10)
    ra = sorted((r["stratum"], r["sample_rank"], r["doc_id"]) for r in a.collect())
    rb = sorted((r["stratum"], r["sample_rank"], r["doc_id"]) for r in b.collect())
    assert ra == rb  # layout-independent
    per = a.groupBy("stratum").count().collect()
    assert all(r["count"] == 10 for r in per)
    ranks = [r["sample_rank"] for r in a.filter(F.col("stratum") == "s0").collect()]
    assert sorted(ranks) == list(range(1, 11))


def test_hash_split_stable_membership(spark):
    """A doc's split never changes when the corpus shrinks (pure function
    of the id), and fractions land near 90/5/5."""
    from open_buildings_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
    full = {r["doc_id"]: r["split"] for r in sampling.hash_split(df).collect()}
    sub = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(df.filter(F.col("doc_id") % 3 == 0)).collect()
    }
    assert all(full[k] == v for k, v in sub.items())
    n = len(full)
    tr = sum(1 for v in full.values() if v == "train") / n
    va = sum(1 for v in full.values() if v == "val") / n
    assert 0.85 < tr < 0.95 and 0.02 < va < 0.08


def test_dup_span_stats_semantics(spark):
    """Cross-doc W-token spans are flagged; within-doc repeats are not;
    unique docs and sub-window docs report zero."""
    from open_buildings_spark.operators import dedup

    shared = "a b c d e f g h"  # exactly one 8-token window
    rows = [
        (1, shared + " unique1 tail1"),          # shares the span with doc 2
        (2, "lead2 " + shared),                  # shares the span with doc 1
        (3, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),       # unique 9 tokens: 2 windows
        (4, " ".join(["r"] * 20)),               # within-doc repeat only
        (5, "too short"),                        # < 8 tokens: no windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"])
        for r in dedup.dup_span_stats(df, window=8).collect()
    }
    assert got[1] == (3, 1)   # 10 tokens -> 3 windows, 1 shared
    assert got[2] == (2, 1)   # 9 tokens -> 2 windows, 1 shared
    assert got[3] == (2, 0)
    assert got[4] == (13, 0)  # 20 identical tokens: within-doc only
    assert 5 not in got       # no windows at all -> no row


def test_dedup_apply_keep_one(spark):
    """Exact copies collapse first; near-dups collapse among survivors;
    kept = min-id doc per final group, with both group sizes carried."""
    from open_buildings_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, base),               # kept: canonical of {1,2 exact} u {3 near}
        (2, base),               # exact copy of 1
        (3, base + " the"),      # near-dup of 1 (high shingle Jaccard)
        (4, "completely different text with many unrelated words here"),
        (5, "completely different text with many unrelated words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["exact_group_size"], r["near_cluster_size"])
        for r in dedup.dedup_apply(df).collect()
    }
    assert set(got) == {1, 4}
    assert got[1] == (2, 2)  # 2 exact copies; near cluster {1, 3}
    assert got[4] == (2, 1)  # 2 exact copies; no near-dup among survivors


def test_vocab_and_bm25(spark):
    """Vocabulary ranks by collection frequency; BM25 ranks docs with more
    query-term mass higher, normalized by doc length."""
    from open_buildings_spark.operators import search

    rows = [
        (1, "table fast table row extra words here padding padding"),
        (2, "table slow"),
        (3, "nothing relevant at all in this document whatsoever"),
        (4, "row row row row"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = {r["term"]: (r["term_freq"], r["doc_freq"], r["rank"])
             for r in search.vocab_stats(df, top_n=5).collect()}
    assert vocab["row"] == (5, 2, 1)         # 5 occurrences across 2 docs
    assert vocab["table"][0] == 3 and vocab["table"][1] == 2
    assert len(vocab) == 5

    hits = search.bm25_search(df, ["table", "fast", "row"], k=10).collect()
    ranked = [r["doc_id"] for r in sorted(hits, key=lambda r: r["rank"])]
    assert ranked[0] == 1                    # hits all three terms
    assert 3 not in ranked                   # no query terms -> no row
    assert all(r["score_r6"] > 0 for r in hits)


def test_dup_span_cut_semantics(spark):
    """Covered tokens are cut; unique spans survive; short docs pass
    through whole; fully-duplicated docs hash to md5('')."""
    import hashlib
    from open_buildings_spark.operators import dedup

    shared = "a b c d e f g h"  # one 8-token window, shared by docs 1/2
    rows = [
        (1, shared + " tail1 tail2"),
        (2, shared),                      # fully covered -> empty rewrite
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),  # unique -> untouched
        (4, "short doc"),                 # < 8 tokens -> untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_hash"], r["n_tokens"], r["n_removed"])
        for r in dedup.dup_span_cut(df, window=8).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1] == (md5("tail1 tail2"), 10, 8)
    assert got[2] == (md5(""), 8, 8)
    assert got[3] == (md5("u1 u2 u3 u4 u5 u6 u7 u8 u9"), 9, 0)
    assert got[4] == (md5("short doc"), 2, 0)


def test_kmeans_fit_recovers_clusters(spark):
    """Two well-separated direction clusters: Lloyd from a 1-per-cluster
    deterministic init recovers both, with correct membership counts and
    centroids near the cluster means."""
    from open_buildings_spark.operators import similarity

    rows = []
    for i in range(10):  # cluster A ~ direction (1, 0); ids 0,2,..,18
        rows.append((i * 2, [1.0, 0.01 * i]))
    for i in range(10):  # cluster B ~ direction (0, 1); ids 1,3,..,19
        rows.append((i * 2 + 1, [0.01 * i, 1.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fitted = similarity.kmeans_fit(emb, n_centroids=2, n_iter=3, stride=1)
    got = {r["cid"]: (r["cv"], r["n_assigned"]) for r in fitted.collect()}
    assert set(got) == {0, 1}
    assert got[0][1] == 10 and got[1][1] == 10
    cv0, cv1 = got[0][0], got[1][0]
    assert cv0[0] > 0.9 and cv0[1] < 0.1     # cluster A mean ~ (1, 0.045)
    assert cv1[1] > 0.9 and cv1[0] < 0.1

    # trained centroids drop into the IVF serving path
    hits = similarity.ann_topk_ivf(
        emb, [0], k=2, n_probe=1, centroids=fitted
    ).collect()
    assert all(r["vec_id"] % 2 == 0 for r in hits)  # same-cluster results


def test_contamination_stats(spark):
    """Corpus docs sharing any W-token window with an eval doc are flagged;
    clean and sub-window docs report zero contamination."""
    from open_buildings_spark.operators import dedup

    evalset = spark.createDataFrame(
        [(100, "e1 e2 e3 e4 e5 e6 e7 e8 e9")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x e1 e2 e3 e4 e5 e6 e7 e8 y"),   # contains eval window 1
            (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),    # clean
            (3, "tiny"),                          # no windows at all
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["contam_windows"])
        for r in dedup.contamination_stats(corpus, evalset, window=8).collect()
    }
    assert got[1] == (3, 1)
    assert got[2] == (2, 0)
    assert got[3] == (0, 0)


def test_dup_span_ops_match_bruteforce_model(spark):
    """Randomized cross-check: dup_span_stats and dup_span_cut agree with a
    brute-force Python model on small random corpora with heavy token
    collisions (seeded, 3 corpora)."""
    import hashlib
    import random

    from open_buildings_spark.operators import dedup

    W = 4
    for seed in (7, 21, 99):
        rng = random.Random(seed)
        texts = {
            d: " ".join(
                rng.choice("abcdefgh") for _ in range(rng.randint(0, 20))
            )
            for d in range(12)
        }
        # brute-force model
        wins, per = {}, {}
        for d, t in texts.items():
            toks = [x for x in t.split(" ") if x]
            ws = (
                [" ".join(toks[i : i + W]) for i in range(len(toks) - W + 1)]
                if len(toks) >= W
                else []
            )
            per[d] = (toks, ws)
            for wn in ws:
                wins.setdefault(wn, set()).add(d)
        dup = {wn for wn, ds in wins.items() if len(ds) >= 2}
        want_stats = {
            d: (len(ws), sum(1 for wn in ws if wn in dup))
            for d, (toks, ws) in per.items()
            if ws
        }
        want_cut = {}
        for d, (toks, ws) in per.items():
            covered = set()
            for i, wn in enumerate(ws):
                if wn in dup:
                    covered.update(range(i, i + W))
            kept = [tok for j, tok in enumerate(toks) if j not in covered]
            clean = " ".join(kept)
            want_cut[d] = (
                hashlib.md5(clean.encode()).hexdigest(),
                len(toks),
                len(toks) - len(kept),
            )

        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got_stats = {
            r["doc_id"]: (r["n_windows"], r["dup_windows"])
            for r in dedup.dup_span_stats(df, window=W).collect()
        }
        assert got_stats == want_stats, f"stats mismatch seed={seed}"
        got_cut = {
            r["doc_id"]: (r["clean_hash"], r["n_tokens"], r["n_removed"])
            for r in dedup.dup_span_cut(df, window=W).collect()
        }
        assert got_cut == want_cut, f"cut mismatch seed={seed}"


def test_hash_split_full_train_boundary(spark):
    """train=4096 (all-train) must label every row train — the former
    3-char-vs-4-char lexicographic compare silently sent ~94% to test."""
    from open_buildings_spark.operators import sampling

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    got = sampling.hash_split(df, train_per_4096=4096, val_per_4096=0)
    assert got.filter(F.col("split") != "train").count() == 0

    got2 = sampling.hash_split(df, train_per_4096=3686, val_per_4096=410)
    assert got2.filter(F.col("split") == "test").count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-negative"):
        sampling.hash_split(df, train_per_4096=-1, val_per_4096=4097)


def test_knn_join_wraps_antimeridian(spark):
    """A point at lon=179.99 must find a doc at lon=-179.995 (~1.1 km away
    across the antimeridian) — the x tile cover wraps, never clamps."""
    from open_buildings_spark.functions import quadkey_from_tiles_col
    from open_buildings_spark.operators import knn as knn_op

    docs = spark.createDataFrame(
        [("d-east", 179.995, 0.0), ("d-west", -179.995, 0.0), ("d-far", -170.0, 0.0)],
        "doc_id string, lon double, lat double",
    )
    n = 1 << 12
    tx = F.floor((F.col("lon") + 180.0) / 360.0 * n).cast("long")
    ty = F.lit(n // 2).cast("long")  # equator row
    docs = docs.withColumn("quadkey", quadkey_from_tiles_col(tx, ty, 12))
    pts = spark.createDataFrame(
        [("p1", 179.99, 0.0)], "place_id string, lon double, lat double"
    )
    got = {
        r["doc_id"]
        for r in knn_op.knn_join(
            pts, docs, k=3, radius_m=3000.0, anchor_offset_m=0.0
        ).collect()
    }
    assert got == {"d-east", "d-west"}  # west neighbor found via wrap


def test_knn_wraps_antimeridian(spark):
    """A query at lon=179.99 finds the doc at lon=-179.995 (~1.1 km away
    across the antimeridian) at its first ring, and the one at lon=-170
    after growth."""
    docs = spark.createDataFrame(
        [("d-east", 179.995, 0.0), ("d-west", -179.995, 0.0), ("d-far", -170.0, 0.0)],
        "doc_id string, lon double, lat double",
    )
    got = knn.knn(spark, docs, [(1, 179.99, 0.0)], k=2).orderBy("rank").collect()
    assert [r["doc_id"] for r in got] == ["d-east", "d-west"]
    got = knn.knn(spark, docs, [(1, 179.99, 0.0)], k=3).orderBy("rank").collect()
    assert [r["doc_id"] for r in got] == ["d-east", "d-west", "d-far"]


def test_first_vertex_prefilter_tolerates_whitespace(spark):
    """Non-canonical WKT whitespace must not NULL the native prefilter and
    silently exclude a within row."""
    from open_buildings_spark.operators.aoi import first_vertex_xy

    df = spark.createDataFrame(
        [
            ("a", "POLYGON (( 30 10, 40 40, 20 40, 30 10))"),
            ("b", "POLYGON ((30  10, 40 40, 20 40, 30 10))"),
            ("c", "POLYGON ((30 10, 40 40, 20 40, 30 10))"),
        ],
        "doc_id string, wkt string",
    )
    fx, fy = first_vertex_xy()
    got = {r["doc_id"]: (r["x"], r["y"])
           for r in df.select("doc_id", fx.alias("x"), fy.alias("y")).collect()}
    assert got == {"a": (30.0, 10.0), "b": (30.0, 10.0), "c": (30.0, 10.0)}


def test_aoi_query_rejects_missing_country_column(spark, docs):
    import pytest as _pytest
    from open_buildings_spark.operators import aoi as aoi_op
    from open_buildings_spark import datagen

    with _pytest.raises(ValueError, match="country_iso"):
        aoi_op.aoi_query(docs, datagen.city_aoi(), country_iso="EG")


def test_partition_plan_dirty_inputs(spark, docs):
    """NULL quadkeys are tolerated (excluded from the histogram); NULL
    partition-key values are refused instead of silently dropped."""
    import pytest as _pytest
    from open_buildings_spark.operators import partition

    g = spark.createDataFrame(
        [("a", "300113001130", "AA"), ("b", None, "AA"), ("c", "300113001131", None)],
        "doc_id string, quadkey string, country_iso string",
    )
    plan = partition.partition_plan(g, 10)
    assert plan.count() >= 1  # null quadkey didn't crash the planner

    with _pytest.raises(ValueError, match="NULL"):
        partition.partition_plan(g, 10, keys=["country_iso"])


def test_rects_in_interior_kernel():
    """Interior-rect classifier: strict interior only — boundary contact,
    holes (inside one or swallowing one), and outside rects all disqualify."""
    from open_buildings_spark.geo import kernels

    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], float)
    rings = [(outer, False), (hole, True)]
    rects = np.array(
        [
            [1, 1, 2, 2],  # interior
            [-1, 1, 2, 2],  # crosses the outer boundary
            [4.5, 4.5, 5.5, 5.5],  # inside the hole
            [3, 3, 7, 7],  # swallows the hole whole
            [0, 0, 1, 1],  # touches the outer boundary
            [9.0, 9.0, 9.9, 9.9],  # interior near a corner
            [20, 20, 21, 21],  # fully outside
        ],
        float,
    )
    got = kernels.rects_in_interior(rings, rects).tolist()
    assert got == [True, False, False, False, False, True, False]


def test_big_aoi_join_interior_cells_bypass_refine(spark):
    """Candidates whose doc bbox sits in an INTERIOR cover cell must skip
    the exact refine entirely: a doc with an unparseable geometry (which
    the exact path would reject) still joins when its bbox witnesses
    containment — proof the parse never ran. Boundary cells keep the
    exact path (same garbage geometry is dropped there; a valid one
    survives)."""
    from open_buildings_spark.geo import mercator
    from open_buildings_spark.operators import spatial_join

    w0, s0, _, _ = mercator.tile_bounds(2048, 2050, 12)  # SW cover tile
    _, _, e1, n1 = mercator.tile_bounds(2050, 2048, 12)  # NE cover tile
    W, S, E, N = w0 + 1e-6, s0 + 1e-6, e1 - 1e-6, n1 - 1e-6
    aoi_wkt = f"POLYGON (({W} {S}, {E} {S}, {E} {N}, {W} {N}, {W} {S}))"
    aois = spark.createDataFrame([(1, aoi_wkt)], "aoi_id int, wkt string")

    def center(tx, ty):
        cw, cs, ce, cn = mercator.tile_bounds(tx, ty, 12)
        return (cw + ce) / 2.0, (cs + cn) / 2.0, (ce - cw)

    icx, icy, iw = center(2049, 2049)  # interior cell (all 8 neighbors in AOI)
    bcx, bcy, bw = center(2048, 2049)  # west-edge boundary cell
    sq = (
        f"POLYGON (({bcx - bw/8} {bcy - bw/8}, {bcx + bw/8} {bcy - bw/8}, "
        f"{bcx + bw/8} {bcy + bw/8}, {bcx - bw/8} {bcy + bw/8}, "
        f"{bcx - bw/8} {bcy - bw/8}))"
    )
    rows = [
        # garbage WKT, bbox inside the interior cell -> must SURVIVE
        ("skip-me", mercator.quadkey_from_tile(2049, 2049, 12),
         f"POLYGON (({icx} {icy}, oops))",
         icx - iw / 8, icy - iw / 8, icx + iw / 8, icy + iw / 8),
        # same garbage in a boundary cell, bbox poking past the AOI edge
        # (defeats BOTH witnesses, incl. the rect-AOI one) -> exact path
        # parses and drops it
        ("parse-me", mercator.quadkey_from_tile(2048, 2049, 12),
         f"POLYGON (({bcx} {bcy}, oops))",
         W - 1e-9, bcy - bw / 8, bcx + bw / 8, bcy + bw / 8),
        # valid square with the same non-witnessing bbox -> exact path
        # keeps it
        ("good", mercator.quadkey_from_tile(2048, 2049, 12), sq,
         W - 1e-9, bcy - bw / 8, bcx + bw / 8, bcy + bw / 8),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, quadkey string, wkt string, "
        "minx double, miny double, maxx double, maxy double",
    )
    out = spatial_join.aoi_join_big(docs, aois, cover_level=12)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == {"skip-me", "good"}


def test_deep_cover_levels_match_level12(spark, docs):
    """cover_level deeper than the stored quadkey (12) must return the
    EXACT level-12 row set — exercised on both join shapes. Before the
    native anchor-cell path existed, substring(quadkey, 1, 13) silently
    matched nothing and returned 0 rows; this pins the fix (deep doc cell
    from the bbox-midpoint mercator expression + the 1-cell cover
    expansion ring absorbing JVM/numpy libm drift)."""
    from open_buildings_spark import datagen
    from open_buildings_spark.operators import spatial_join

    feats = datagen.multi_aois()[:2]

    def to_wkt(f):
        rings = f["geometry"]["coordinates"]
        return "POLYGON (" + ", ".join(
            "(" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + ")"
            for ring in rings
        ) + ")"

    aois_df = spark.createDataFrame(
        [(aid, to_wkt(f)) for aid, f in feats], "aoi_id int, wkt string"
    )

    def rowset(df):
        return sorted(
            (r["doc_id"], r["aoi_id"])
            for r in df.select("doc_id", "aoi_id").collect()
        )

    base = rowset(spatial_join.aoi_join_big(docs, aois_df, cover_level=12))
    assert len(base) > 0
    for lvl in (13, 14):
        assert rowset(
            spatial_join.aoi_join_big(docs, aois_df, cover_level=lvl)
        ) == base
    # small-AOI shape shares _doc_cell_col + the driver-side expansion ring
    small = rowset(spatial_join.aoi_join(docs, feats, cover_level=13))
    assert small == base


def test_deep_cover_requires_an_anchor(spark):
    """Deep covers need bbox or centroid columns on pre-enriched docs —
    a table with neither must raise, not silently drop every row."""
    import pytest

    from open_buildings_spark.operators import spatial_join

    docs = spark.createDataFrame(
        [("d1", "301001330310", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "doc_id string, quadkey string, wkt string",
    )
    aois = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")], "aoi_id int, wkt string"
    )
    with pytest.raises(ValueError, match="cover_level"):
        spatial_join.aoi_join_big(docs, aois, cover_level=13)


def test_lm_score_semantics(spark):
    """The bigram LM must score corpus-typical word sequences above rare
    ones: a doc repeating the corpus's dominant bigram outranks a doc of
    unique never-repeated words; docs under 2 tokens are absent."""
    from open_buildings_spark.operators import textstats

    rows = [(i, "the table scans fast") for i in range(10)]
    rows += [(100, "zyx qwv jkl mnop")]  # all-unique words, unseen bigrams
    rows += [(101, "one")]  # single token: no bigram
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.lm_score(docs).collect()}
    assert 101 not in out
    assert out[0]["n_bigrams"] == 3
    assert out[0]["avg_logp"] > out[100]["avg_logp"]
    # deterministic across runs
    again = {r["doc_id"]: r["avg_logp"] for r in textstats.lm_score(docs).collect()}
    assert again[0] == out[0]["avg_logp"]


def test_small_aoi_join_interior_cells_bypass_refine(spark):
    """The SMALL-AOI join's driver-classified interior fast path: a doc
    with an unparseable geometry whose bbox witnesses containment in an
    interior cover cell still joins (proof the parse never ran); the same
    garbage in a boundary cell is parsed and dropped, a valid square
    there survives."""
    from open_buildings_spark.geo import mercator
    from open_buildings_spark.operators import spatial_join

    w0, s0, _, _ = mercator.tile_bounds(2048, 2050, 12)
    _, _, e1, n1 = mercator.tile_bounds(2050, 2048, 12)
    W, S, E, N = w0 + 1e-6, s0 + 1e-6, e1 - 1e-6, n1 - 1e-6
    aoi = {
        "type": "Feature",
        "properties": {},
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[W, S], [E, S], [E, N], [W, N], [W, S]]],
        },
    }

    def center(tx, ty):
        cw, cs, ce, cn = mercator.tile_bounds(tx, ty, 12)
        return (cw + ce) / 2.0, (cs + cn) / 2.0, (ce - cw)

    icx, icy, iw = center(2049, 2049)  # interior cell
    bcx, bcy, bw = center(2048, 2049)  # west-edge boundary cell
    sq = (
        f"POLYGON (({bcx - bw/8} {bcy - bw/8}, {bcx + bw/8} {bcy - bw/8}, "
        f"{bcx + bw/8} {bcy + bw/8}, {bcx - bw/8} {bcy + bw/8}, "
        f"{bcx - bw/8} {bcy - bw/8}))"
    )
    rows = [
        ("skip-me", mercator.quadkey_from_tile(2049, 2049, 12),
         f"POLYGON (({icx} {icy}, oops))",
         icx - iw / 8, icy - iw / 8, icx + iw / 8, icy + iw / 8),
        # boundary-cell rows get a bbox poking past the AOI edge so
        # neither the interior-cell nor the rect-AOI witness fires and
        # the exact refine runs
        ("parse-me", mercator.quadkey_from_tile(2048, 2049, 12),
         f"POLYGON (({bcx} {bcy}, oops))",
         W - 1e-9, bcy - bw / 8, bcx + bw / 8, bcy + bw / 8),
        ("good", mercator.quadkey_from_tile(2048, 2049, 12), sq,
         W - 1e-9, bcy - bw / 8, bcx + bw / 8, bcy + bw / 8),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, quadkey string, wkt string, "
        "minx double, miny double, maxx double, maxy double",
    )
    out = spatial_join.aoi_join(docs, [(1, aoi)], cover_level=12)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == {"skip-me", "good"}
    # classification itself: 1 interior cell of the 3x3 cover
    cover = spatial_join.classified_cover_cells([(1, aoi)], 12)
    assert sum(c[6] for c in cover) == 1 and len(cover) == 9


def test_rect_aoi_native_witness_bypasses_refine(spark):
    """Rectangle AOIs (axis-aligned 5-vertex shells) admit a NATIVE
    containment witness in BOUNDARY cover cells: a doc whose bbox sits
    strictly inside the rect joins without its geometry ever being parsed
    (garbage WKT survives — proof), while a bbox touching the rect edge
    stays on the exact path (same garbage is parsed and dropped). Both
    the big shuffle join and the broadcast join honor it identically; a
    NON-rectangular AOI (pentagon) must never use the witness."""
    from open_buildings_spark.geo import mercator
    from open_buildings_spark.operators import spatial_join

    w0, s0, _, _ = mercator.tile_bounds(2048, 2050, 12)
    _, _, e1, n1 = mercator.tile_bounds(2050, 2048, 12)
    W, S, E, N = w0 + 1e-6, s0 + 1e-6, e1 - 1e-6, n1 - 1e-6
    rect_wkt = f"POLYGON (({W} {S}, {E} {S}, {E} {N}, {W} {N}, {W} {S}))"
    # same bbox, but a pentagon boundary (extra vertex on the south edge)
    mid = (W + E) / 2.0
    penta_wkt = (
        f"POLYGON (({W} {S}, {mid} {S}, {E} {S}, {E} {N}, {W} {N}, {W} {S}))"
    )
    rect_feat = {
        "type": "Feature", "properties": {},
        "geometry": {"type": "Polygon", "coordinates": [
            [[W, S], [E, S], [E, N], [W, N], [W, S]]]},
    }
    cw, cs, ce, cn = mercator.tile_bounds(2048, 2049, 12)  # boundary cell
    cx, cy, w8 = (cw + ce) / 2.0, (cs + cn) / 2.0, (ce - cw) / 8.0
    rows = [
        # garbage WKT, bbox strictly inside the rect -> rect witness
        ("rect-skip", mercator.quadkey_from_tile(2048, 2049, 12),
         f"POLYGON (({cx} {cy}, oops))", cx - w8, cy - w8, cx + w8, cy + w8),
        # garbage WKT, bbox minx exactly ON the rect edge -> no witness,
        # parsed, dropped
        ("edge-touch", mercator.quadkey_from_tile(2048, 2049, 12),
         f"POLYGON (({cx} {cy}, oops))", W, cy - w8, cx + w8, cy + w8),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, quadkey string, wkt string, "
        "minx double, miny double, maxx double, maxy double",
    )
    # the same rectangle written as a one-part MULTIPOLYGON is a
    # rectangle too, on both paths
    ring = [[W, S], [E, S], [E, N], [W, N], [W, S]]
    multi_wkt = f"MULTIPOLYGON ((({W} {S}, {E} {S}, {E} {N}, {W} {N}, {W} {S})))"
    multi_feat = {
        "type": "Feature", "properties": {},
        "geometry": {"type": "MultiPolygon", "coordinates": [[ring]]},
    }
    for wkt, feat in ((rect_wkt, rect_feat), (multi_wkt, multi_feat)):
        aois = spark.createDataFrame([(1, wkt)], "aoi_id int, wkt string")
        got_big = {
            r["doc_id"]
            for r in spatial_join.aoi_join_big(docs, aois, cover_level=12)
            .select("doc_id").collect()
        }
        assert got_big == {"rect-skip"}, wkt
        got_small = {
            r["doc_id"]
            for r in spatial_join.aoi_join(docs, [(1, feat)], cover_level=12)
            .select("doc_id").collect()
        }
        assert got_small == {"rect-skip"}, wkt
    # pentagon: not a rectangle -> the garbage rows are parsed and dropped
    p_aois = spark.createDataFrame([(1, penta_wkt)], "aoi_id int, wkt string")
    got_penta = {
        r["doc_id"]
        for r in spatial_join.aoi_join_big(docs, p_aois, cover_level=12)
        .select("doc_id").collect()
    }
    assert got_penta == set()
    # driver-side classification: rect flag + the rect as the AOI bbox
    penta_feat = {"type": "Feature", "properties": {}, "geometry": {
        "type": "Polygon", "coordinates": [
            [[W, S], [mid, S], [E, S], [E, N], [W, N], [W, S]]]}}
    for feat, arect in ((rect_feat, True), (multi_feat, True), (penta_feat, False)):
        (row, *_) = spatial_join.classified_cover_cells([(1, feat)], 12)
        assert row[7:] == (arect, W, S, E, N)
