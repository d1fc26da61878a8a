"""The flagship AOI query (= the reference's ``ob get_buildings``).

Reference lifecycle (open_buildings/download_buildings.py:223-252): AOI ->
covering quadkey + WKT -> SQL with `quadkey LIKE 'qk%'` coarse filter and
`ST_Within(geometry, aoi)` exact refinement (+ optional country_iso partition
predicate).

Spark-first plan:
  1. driver derives the covering quadkey prefix (tiny pure-python math),
  2. coarse filter: native ``startswith`` on the quadkey column — Catalyst
     pushes it to the parquet scan as a string-range filter, and the
     iceberg-lite manifest prunes whole files by quadkey bounds,
  3. exact refinement: one Arrow-batched ``within`` kernel over the
     surviving candidates only (the engine's one refine UDF,
     ``udfs.make_within_aois``, with literal AOI id and skip columns;
     the raw path's skip is the joins' native containment witness),
  4. spans ride through untouched (span-sequence invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import quadkey_prefix_filter
from ..geo import mercator
from ..session import local_frame
from ..udfs import make_within_aois
from .enrich import add_geo_columns, extract_geometry


def first_vertex_xy(wkt_col: str = "wkt"):
    """(fx, fy) native Column exprs: the WKT's first vertex, extracted with
    JVM string ops (first comma chunk after the last '('; WKT doubles are
    %.17g so the string->double cast is exact) — ~10x cheaper than shipping
    the row through Arrow to the parse kernel. POINTs have no comma so a
    trailing ')' may remain — translate strips it."""
    first = F.filter(
        F.split(
            F.translate(
                F.substring_index(
                    F.substring_index(F.col(wkt_col), ",", 1), "(", -1
                ),
                ")",
                "",
            ),
            " ",
        ),
        # drop empty tokens: non-canonical-but-valid WKT like 'POLYGON (( 30
        # 10, ...' splits to a leading '' whose double-cast is NULL, and a
        # NULL prefilter would silently exclude a genuinely-within row
        lambda t: t != F.lit(""),
    )
    fx = F.element_at(first, 1).cast("double")
    fy = F.element_at(first, 2).cast("double")
    return fx, fy


def first_vertex_in_bbox(aoi_feature: dict):
    """Exact-safe NATIVE prefilter for ST_Within(geom, AOI): within requires
    EVERY vertex inside the AOI, so the geometry's first vertex must lie in
    the AOI's bbox — a necessary condition with zero false exclusions.
    Typical AOIs prune >99% of a raw scan here, leaving the Python refine a
    candidate set close to the final hit set."""
    w, s, e, n = mercator.geometry_bounds(aoi_feature["geometry"])
    fx, fy = first_vertex_xy()
    return (fx >= w) & (fx <= e) & (fy >= s) & (fy <= n)


def aoi_query(
    docs: DataFrame,
    aoi_feature: dict,
    country_iso: str | None = None,
) -> DataFrame:
    """Rows of ``docs`` whose footprint is ST_Within the AOI polygon.

    ``docs`` needs (doc_id, spans); if a ``quadkey`` column already exists
    (enriched/partitioned table) the coarse filter is applied *before* any
    geometry parsing — that's the pruned scan path. Result keeps all input
    columns plus quadkey, and is tile-assigned at z12 like the reference
    archive layout.
    """
    prefix = mercator.geojson_to_quadkey(aoi_feature)

    df = docs
    if country_iso is not None and "country_iso" not in df.columns:
        # never silently return the all-countries superset the caller
        # explicitly asked to narrow
        raise ValueError(
            "country_iso filter requested but docs has no country_iso "
            "column; enrich with add_geo_columns(countries=...) first"
        )
    pre_enriched = "quadkey" in df.columns
    refine = make_within_aois([(0, aoi_feature)])

    def within(skip):
        # skip rows cross the Arrow boundary with blank WKT
        wkt = F.when(skip, F.lit("")).otherwise(F.col("wkt"))
        return refine(wkt, F.lit(0), skip)

    if pre_enriched:
        # stored-table path: native prefix filter prunes files/row-groups
        # BEFORE any python; the within kernel refines survivors only
        df = df.filter(quadkey_prefix_filter(F.col("quadkey"), prefix))
        if "wkt" not in df.columns:
            df = extract_geometry(df)
        if country_iso is not None and "country_iso" in df.columns:
            # partition-column equality predicate -> partition pruning
            df = df.filter(F.col("country_iso") == country_iso)
        return (
            df.filter(F.col("wkt").isNotNull())
            .filter(first_vertex_in_bbox(aoi_feature))
            .filter(within(F.lit(False)))
        )

    # raw-table path: native first-vertex prefilter leaves a near-final
    # candidate set, then ONE enrichment parse pass (wkt-only Arrow
    # transfer — the nested spans column never enters python) computes
    # quadkey + bbox for the candidates. With the bbox in hand, the
    # interior-cell fast path (same as the big join's, driver-classified
    # here) lets candidates whose bbox sits in a cover cell strictly
    # inside the AOI skip the exact raycast entirely; only boundary-cell
    # candidates pay it. The UDF is nondeterministic-marked so the cell
    # equi-join's isnotnull can't split the enrichment into two evals.
    from .spatial_join import (
        _COVER_CELLS_SCHEMA,
        COVER_COLS,
        classified_cover_cells,
        containment_witness,
    )

    df = extract_geometry(df)
    df = df.filter(F.col("wkt").isNotNull()).filter(
        first_vertex_in_bbox(aoi_feature)
    )
    level = min(12, len(prefix) + 3)
    cover = classified_cover_cells([(0, aoi_feature)], level)
    if not any(c[6] for c in cover):
        # no interior cell at max cover depth (tiny AOI): the fast path
        # buys nothing — keep the single-eval filter-then-enrich shape
        df = df.filter(within(F.lit(False)))
        df = add_geo_columns(df)
        if country_iso is not None and "country_iso" in df.columns:
            df = df.filter(F.col("country_iso") == country_iso)
        return df
    cells_df = local_frame(df.sparkSession, cover, _COVER_CELLS_SCHEMA).drop("aoi_id")
    df = add_geo_columns(df, keep_bbox=True, deterministic=False)
    df = df.withColumn("cell", F.substring("quadkey", 1, level))
    # inner cover join is exact-safe for WITHIN: a doc whose home cell
    # falls outside the AOI bbox's cover has a vertex outside the bbox
    cand = df.join(F.broadcast(cells_df), "cell")
    out = cand.filter(within(containment_witness(True))).drop(
        *COVER_COLS, "minx", "miny", "maxx", "maxy"
    )
    if country_iso is not None and "country_iso" in out.columns:
        out = out.filter(F.col("country_iso") == country_iso)
    return out
