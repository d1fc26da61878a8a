"""Generic filter-and-refine spatial join: docs x AOI-table.

The reference's only join is one-polygon-at-a-time (download_buildings.py
AOI query) or a correlated UPDATE against a tiny countries table. The
engine generalizes both to the classic cell-cover equi-join:

  1. explode each AOI polygon to its covering quadkey cells at a chosen
     level,
  2. join docs on the cell key (substring of the stored quadkey — no
     geometry touched yet, fully JVM-side),
  3. exact ST_Within refinement per AOI on the surviving candidates only
     (one Arrow batch pass, AOIs grouped within each batch by the one
     refine core, ``udfs._refine``), except where a native containment
     witness (:func:`containment_witness`) already proves the row within.

Two physical shapes, picked by the caller:

- :func:`aoi_join` — SMALL AOI side (a python list): cells enumerate at
  the driver and broadcast; docs never shuffle. The classic broadcast
  spatial join (countries, a handful of query AOIs).
- :func:`aoi_join_big` — BIG-BIG: the AOI side is itself a DataFrame
  (millions of polygons). The cell cover is computed as a distributed
  Arrow pass + native explode, both sides shuffle on `cell` (hash
  equi-join, nothing broadcast, no per-AOI expression chains — plan size
  is O(1) in the AOI count), and refinement runs on join-carried AOI
  geometry, grouped by AOI within each Arrow batch.

Both shapes carry the same cover-cell columns (:data:`COVER_COLS`: the
cell rect ``cw..cn``, its ``_interior`` flag, the AOI bbox
``aminx..amaxy`` and its ``arect`` flag) into the same witness.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import kernels, mercator
from ..geo.wkt import rings_batch
from ..session import local_frame
from ..udfs import (
    aoi_rings,
    make_aoi_cover,
    make_cell_interior,
    make_within_aois,
    make_within_pairs_skip,
)
from .enrich import add_geo_columns, extract_geometry

ZOOM = 12


def polygon_cover_cells(feature: dict, level: int, ring: int = 0) -> list[str]:
    """Quadkey cells at ``level`` covering the AOI's bbox (coarse cover;
    exactness comes from the refinement step). ``ring`` expands the tile
    range outward (clamped to the tile grid) — the deep-cover paths use
    ring=1 to absorb any last-ulp disagreement between the doc side's
    JVM-native anchor-tile math and this side's libm (see
    :func:`_doc_cell_col`)."""
    w, s, e, n = mercator.geometry_bounds(feature["geometry"])
    x0, y0, x1, y1 = mercator.bbox_tile_range(w, s, e, n, level)
    if ring:
        zmax = (1 << level) - 1
        x0, y0 = max(x0 - ring, 0), max(y0 - ring, 0)
        x1, y1 = min(x1 + ring, zmax), min(y1 + ring, zmax)
    return [
        mercator.quadkey_from_tile(x, y, level)
        for x in range(x0, x1 + 1)
        for y in range(y0, y1 + 1)
    ]


def _doc_cell_col(df: DataFrame, cover_level: int) -> "F.Column":
    """The doc-side join cell at ``cover_level``.

    Levels up to the stored quadkey depth (ZOOM=12) are a prefix substring
    of the stored key — bit-exact, zero extra math. DEEPER levels (finer
    covers raise the interior-cell skip rate quadratically on large AOIs)
    can't come from the stored key: substring would silently return the
    whole 12-char key, match no level-L cover cell, and drop every row —
    so the cell is computed natively from the doc's anchor point instead
    (bbox midpoint when the bbox columns are present — the same anchor the
    stored quadkey used — else the centroid; any point guaranteed inside
    the geometry works, because doc-within-AOI implies the whole doc bbox,
    hence the anchor, lies in the AOI's covered bbox). The native mercator
    expression mirrors ``mercator.tiles_np`` term-for-term, but JVM libm
    may differ from numpy by 1 ulp at exact tile edges — the cover side
    absorbs that with a 1-cell expansion ring (``ring=1``)."""
    import math as _math

    from ..functions import quadkey_from_tiles_col

    if cover_level <= ZOOM:
        return F.substring("quadkey", 1, cover_level)
    cols = set(df.columns)
    if {"minx", "miny", "maxx", "maxy"} <= cols:
        ax = (F.col("minx") + F.col("maxx")) / 2.0
        ay = (F.col("miny") + F.col("maxy")) / 2.0
    elif {"lon", "lat"} <= cols:
        ax, ay = F.col("lon"), F.col("lat")
    else:
        raise ValueError(
            f"cover_level={cover_level} exceeds the stored quadkey depth "
            f"({ZOOM}) and the docs side has neither bbox (minx..maxy) nor "
            "centroid (lon/lat) columns to derive a deeper cell from"
        )
    z2 = float(1 << cover_level)
    zmax = (1 << cover_level) - 1
    x01 = ax / 360.0 + 0.5
    sinlat = F.sin(F.radians(ay))
    # pin exact-pole anchors BEFORE the log: at sin(lat) == +-1 the
    # divisor (1 - sinlat) is 0 and the Mercator y is undefined — without
    # the pin the doc's cell goes NULL and the row silently drops from
    # candidates, while tiles_np clamps the same input to tile 0 / zmax
    y01 = (
        F.when(sinlat >= 1.0, F.lit(0.0))
        .when(sinlat <= -1.0, F.lit(1.0))
        .otherwise(
            0.5 - 0.25 * F.log((1.0 + sinlat) / (1.0 - sinlat)) / _math.pi
        )
    )
    eps = mercator.EPSILON

    def _tile(t01):
        t = F.floor((t01 + eps) * z2).cast("long")
        t = F.greatest(F.least(t, F.lit(zmax)), F.lit(0))
        # edge pins match tiles_np; the explicit isnan guard gives NaN
        # anchors a NULL tile -> NULL cell -> no candidates (tiles_np's
        # -1). Without it Spark's NaN ordering (NaN > everything) would
        # route NaN anchors to the (zmax, zmax) corner cell — never a
        # wrong OUTPUT row (the exact refine rejects them) but a spurious
        # candidate for every AOI covering that corner.
        return (
            F.when(F.isnan(t01), F.lit(None).cast("long"))
            .when(t01 <= 0.0, F.lit(0))
            .when(t01 >= 1.0, F.lit(zmax))
            .otherwise(t)
        )

    return quadkey_from_tiles_col(_tile(x01), _tile(y01), cover_level)


def classified_cover_cells(
    aois: list[tuple[int, dict]], cover_level: int
) -> list[tuple]:
    """Driver-enumerated cover cells with the interior classification the
    big join computes distributed, one row per (AOI, cell) in
    ``_COVER_CELLS_SCHEMA`` order: (aoi_id, cell, cw, cs, ce, cn,
    _interior, arect, aminx, aminy, amaxx, amaxy). A cell is INTERIOR when
    its rect lies strictly inside the AOI (``kernels.rects_in_interior`` —
    same kernel as the big join), so any geometry whose bbox sits in the
    rect is ST_Within by containment. The AOI list is small here (that's
    this operator's contract), so the whole classification is a few
    driver-side numpy calls."""
    out = []
    ring = 1 if cover_level > ZOOM else 0
    for aid, feat in aois:
        cells = polygon_cover_cells(feat, cover_level, ring=ring)
        rects = np.asarray(
            [
                mercator.tile_bounds(*mercator.tile_from_quadkey(c))
                for c in cells
            ],
            dtype=np.float64,
        ).reshape(len(cells), 4)
        rings = aoi_rings(feat["geometry"])
        interior = kernels.rects_in_interior(rings, rects)
        b = rings_batch(rings)
        arect = bool(kernels.rect_mask(b)[0])
        abox = tuple(map(float, kernels.bboxes(b)[0]))
        out.extend(
            (int(aid), c, *map(float, r), bool(it), arect, *abox)
            for c, r, it in zip(cells, rects, interior)
        )
    return out


_COVER_CELLS_SCHEMA = (
    "aoi_id int, cell string, cw double, cs double, ce double, cn double, "
    "_interior boolean, arect boolean, aminx double, aminy double, "
    "amaxx double, amaxy double"
)

# the cover-cell columns a join carries into the witness, dropped after it
COVER_COLS = (
    "cell", "cw", "cs", "ce", "cn", "_interior",
    "arect", "aminx", "aminy", "amaxx", "amaxy",
)


def containment_witness(has_bbox: bool):
    """THE native containment witness of every AOI refine (``aoi_query``,
    ``aoi_join``, ``aoi_join_big``): rows where it holds are ST_Within
    their AOI with no parse, no raycast and no WKT bytes over Arrow.
    Reads the doc bbox ``minx..maxy`` and the :data:`COVER_COLS`:

    (a) doc bbox inside its (interior) cover cell's rect — any float error
        in the rect bounds is harmless, the SAME rect values sit on both
        sides of the implication;
    (b) rectangle AOI (``arect``; its bbox ``aminx..amaxy`` is the rect)
        with the doc bbox strictly inside beyond the raycast kernel's
        on-boundary tolerance (_EPS*max(1, opposite-edge-length)/edge-length
        per axis), so the exact kernel would provably return True — all
        vertices strictly inside a convex boundary admit no crossing and
        defeat no tolerance.

    Without stored bbox columns there is no witness: every candidate
    refines."""
    if not has_bbox:
        return F.lit(False)
    # 4x the kernel _EPS: float rounding in either inequality form is
    # relative (~1e-16) and can never bridge a 4x tolerance gap, so the
    # witness stays strictly sound; rows inside the extra slack simply
    # take the exact refine. Margins appear multiplied through by the
    # (positive for arect) edge lengths — division-free, so ANSI mode
    # never sees a zero divisor on non-rect rows
    eps = 4e-12
    ah = F.col("amaxy") - F.col("aminy")
    aw = F.col("amaxx") - F.col("aminx")
    mx = eps * F.greatest(F.lit(1.0), ah)
    my = eps * F.greatest(F.lit(1.0), aw)
    return F.coalesce(
        (
            F.col("_interior")
            & (F.col("minx") >= F.col("cw"))
            & (F.col("maxx") <= F.col("ce"))
            & (F.col("miny") >= F.col("cs"))
            & (F.col("maxy") <= F.col("cn"))
        )
        | (
            F.col("arect")
            & ((F.col("minx") - F.col("aminx")) * ah > mx)
            & ((F.col("amaxx") - F.col("maxx")) * ah > mx)
            & ((F.col("miny") - F.col("aminy")) * aw > my)
            & ((F.col("amaxy") - F.col("maxy")) * aw > my)
        ),
        F.lit(False),
    )


def aoi_join(
    docs: DataFrame,
    aois: list[tuple[int, dict]],
    cover_level: int = 10,
) -> DataFrame:
    """Rows of ``docs`` within ANY of the AOIs, tagged with ``aoi_id``
    (a doc inside two overlapping AOIs appears once per AOI).

    ``docs`` needs doc_id+spans (or pre-enriched quadkey/wkt columns);
    ``aois``: [(aoi_id, GeoJSON feature)].

    Interior-cell fast path (same as the big join's, driver-enumerated):
    cover cells classify once at the driver; candidates whose bbox sits
    in an interior cell are within by containment and skip the exact
    refine entirely — no parse, no raycast, no WKT bytes over Arrow.
    Needs doc bbox columns (minx..maxy): raw docs get them from the same
    single enrichment parse pass; pre-enriched tables without stored
    bbox columns take the exact path for every candidate."""
    cells_df = local_frame(
        docs.sparkSession, classified_cover_cells(aois, cover_level), _COVER_CELLS_SCHEMA
    )

    had_bbox = {"minx", "miny", "maxx", "maxy"} <= set(docs.columns)
    df = _prepare_docs(docs, keep_bbox=True)
    has_bbox = {"minx", "miny", "maxx", "maxy"} <= set(df.columns)
    df = df.withColumn("cell", _doc_cell_col(df, cover_level))
    cand = df.join(F.broadcast(cells_df), "cell")
    skip = containment_witness(has_bbox)
    refine = make_within_aois(aois)
    out = cand.filter(
        refine(
            F.when(skip, F.lit("")).otherwise(F.col("wkt")),
            F.col("aoi_id"),
            skip,
        )
    ).drop(*COVER_COLS)
    if has_bbox and not had_bbox:
        out = out.drop("minx", "miny", "maxx", "maxy")
    return out


def _prepare_docs(docs: DataFrame, keep_bbox: bool = False) -> DataFrame:
    """quadkey+wkt columns via the single-parse enrichment (or native
    filters when the table is already enriched). ``keep_bbox`` keeps the
    geometry bbox columns when the enrichment runs here (same single parse
    pass) — the big join's interior-cell fast path needs them."""
    df = docs
    if "quadkey" not in df.columns:
        # native wkt pre-filter only, and a nondeterministic-marked eval:
        # the cell equi-join injects isnotnull(cell) on the UDF-derived key,
        # which would otherwise be pushed below the projection and split the
        # enrichment into two python evals (every WKT parsed twice)
        df = add_geo_columns(
            df, drop_nongeo=True, deterministic=False, keep_bbox=keep_bbox
        )
    else:
        if "wkt" not in df.columns:
            df = extract_geometry(df)
        df = df.filter(F.col("quadkey").isNotNull())  # stored column: native
    return df


def aoi_join_big(
    docs: DataFrame,
    aois: DataFrame,
    cover_level: int = 10,
    id_col: str = "aoi_id",
    wkt_col: str = "wkt",
) -> DataFrame:
    """Big-big distributed spatial join: rows of ``docs`` ST_Within any
    polygon of the ``aois`` DataFrame, tagged with that polygon's id (a doc
    inside k AOIs appears k times). Neither side is collected, broadcast,
    or enumerated at the driver — this is the shape for millions of AOIs
    against 10^12 docs (SURVEY §2.3 J1's "plain shuffle equi-join on cell
    when both sides are large"; reference analogue: the countries UPDATE,
    overture/add_columns.py:58-63, which caps out at ~200 polygons).

    Plan shape (scale audit):
      1. AOI side: ONE Arrow pass computes each polygon's bbox + covering
         tile range at ``cover_level``; a native sequence()+explode emits
         (cell, aoi) rows with the quadkey built by JVM bit math. Cover
         rows per AOI = its bbox tile count at ``cover_level`` — pick the
         level so typical AOIs cover 1..tens of cells.
      2. hash shuffle equi-join on `cell` (shuffle_hash hint: no broadcast,
         no sort; AQE handles skewed cells). Plan size is O(1) in the AOI
         count — no per-AOI expression chains.
      3. candidates prefilter NATIVELY on the join-carried AOI bbox (a
         within geometry's first vertex must lie in it — zero false
         exclusions), so the Arrow refine sees a near-final candidate set.
      4. interior-cell FAST PATH: a second small Arrow pass on the exploded
         (aoi, cell) rows classifies each cover cell as interior (the cell
         rect lies strictly inside the AOI — kernels.rects_in_interior) vs
         boundary. A candidate whose doc bbox sits inside an interior cell
         is within by containment (bbox ⊆ cell rect ⊆ AOI interior) and
         SKIPS the exact refine — no parse, no raycast, no WKT bytes over
         Arrow. Any float error in the rect bounds is harmless: the SAME
         rect is used on both sides of the implication.
      5. exact ST_Within refine for the remaining (doc, AOI) pairs:
         grouped by AOI inside each batch, one vectorized raycast kernel
         per AOI run (O(batch) total, not O(batch x AOIs)).

    ``aois`` needs (id_col, wkt_col). Output = docs columns + ``aoi_id``.
    """
    import math

    from ..functions import quadkey_from_tiles_col
    from .aoi import first_vertex_xy

    cover = make_aoi_cover(cover_level)
    a = (
        aois.select(
            F.col(id_col).alias("aoi_id"), F.col(wkt_col).alias("_aoi_wkt")
        )
        .filter(F.col("_aoi_wkt").isNotNull())
        .withColumn("_cov", cover(F.col("_aoi_wkt")))
        .select("aoi_id", "_aoi_wkt", "_cov.*")
        .filter(F.col("x0") >= 0)
    )
    if cover_level > ZOOM:
        # deep cover: the doc cell comes from a JVM-native anchor-tile
        # expression (see _doc_cell_col) whose libm can disagree with the
        # cover pass's numpy by 1 ulp at exact tile edges — one expansion
        # ring makes the cover a superset under any ±1-tile drift. The
        # extra ring cells match only docs OUTSIDE the AOI bbox, which the
        # native first-vertex prefilter below kills before any Arrow work.
        zmax = (1 << cover_level) - 1
        a = (
            a.withColumn("x0", F.greatest(F.col("x0") - 1, F.lit(0)))
            .withColumn("y0", F.greatest(F.col("y0") - 1, F.lit(0)))
            .withColumn("x1", F.least(F.col("x1") + 1, F.lit(zmax)))
            .withColumn("y1", F.least(F.col("y1") + 1, F.lit(zmax)))
        )
    z2 = float(1 << cover_level)
    pi = float(math.pi)
    interior = make_cell_interior()
    cells = (
        a.withColumn("_ctx", F.explode(F.sequence("x0", "x1")))
        .withColumn("_cty", F.explode(F.sequence("y0", "y1")))
        .withColumn(
            "cell", quadkey_from_tiles_col(F.col("_ctx"), F.col("_cty"), cover_level)
        )
        # cell rect in lon/lat (native tile-bound math; exact parity with
        # mercator.tile_bounds is NOT required — see step 4)
        .withColumn("cw", F.col("_ctx") / z2 * 360.0 - 180.0)
        .withColumn("ce", (F.col("_ctx") + 1) / z2 * 360.0 - 180.0)
        .withColumn(
            "cn", F.degrees(F.atan(F.sinh(pi * (1.0 - 2.0 * F.col("_cty") / z2))))
        )
        .withColumn(
            "cs",
            F.degrees(F.atan(F.sinh(pi * (1.0 - 2.0 * (F.col("_cty") + 1) / z2)))),
        )
        # native candidate pre-guard: a cell on the cover bbox's edge
        # ring is almost never strictly interior (it touches the AOI's
        # extremal rows/columns) — blank the classifier's WKT input for
        # those rows so small AOIs (1-2 cells per axis, the common case)
        # pay ~nothing for classification. Conservative only: a blanked
        # row classifies boundary and takes the exact refine.
        .withColumn(
            "_int_cand",
            (F.col("_ctx") > F.col("x0"))
            & (F.col("_ctx") < F.col("x1"))
            & (F.col("_cty") > F.col("y0"))
            & (F.col("_cty") < F.col("y1")),
        )
        .withColumn(
            "_interior",
            F.col("_int_cand")
            & interior(
                F.when(F.col("_int_cand"), F.col("_aoi_wkt")).otherwise(F.lit("")),
                F.col("cw"),
                F.col("cs"),
                F.col("ce"),
                F.col("cn"),
            ),
        )
        .select(
            "aoi_id", "_aoi_wkt", "aminx", "aminy", "amaxx", "amaxy",
            "arect", "cell", "_interior", "cw", "cs", "ce", "cn",
        )
    )

    had_bbox = {"minx", "miny", "maxx", "maxy"} <= set(docs.columns)
    df = _prepare_docs(docs, keep_bbox=True)
    has_bbox = {"minx", "miny", "maxx", "maxy"} <= set(df.columns)
    df = df.withColumn("cell", _doc_cell_col(df, cover_level))
    # materialize the first vertex BEFORE the join: the bbox prefilter
    # references both sides, so Catalyst can't push it below the join —
    # computed post-join, the WKT string ops would re-run once per
    # candidate (doc, aoi-cell) PAIR; as pre-join columns they run once
    # per doc and ship as 16 bytes through the shuffle the join needs
    # anyway
    fx, fy = first_vertex_xy()
    df = df.withColumn("_fx", fx).withColumn("_fy", fy)
    cand = df.join(cells.hint("shuffle_hash"), "cell")
    cand = cand.filter(
        (F.col("_fx") >= F.col("aminx"))
        & (F.col("_fx") <= F.col("amaxx"))
        & (F.col("_fy") >= F.col("aminy"))
        & (F.col("_fy") <= F.col("amaxy"))
    )
    skip = containment_witness(has_bbox)
    within = make_within_pairs_skip()
    out = cand.filter(
        within(
            F.when(skip, F.lit("")).otherwise(F.col("wkt")),
            F.when(skip, F.lit("")).otherwise(F.col("_aoi_wkt")),
            skip,
        )
    )
    out = out.drop("_fx", "_fy", "_aoi_wkt", *COVER_COLS)
    if has_bbox and not had_bbox:
        # bbox columns were added here for the fast path, not by the
        # caller: keep the output schema as before
        out = out.drop("minx", "miny", "maxx", "maxy")
    return out
