"""SQL execution surface: the engine's geospatial kernels as Spark SQL
functions, plus table-root views — so the reference's SQL-driven workflow
runs on Spark.

The reference drives every query through SQL strings against DuckDB
(``ob tools sql`` emits them: open_buildings/download_buildings.py:91-118;
the archive build is ``UPDATE ... ST_Intersects`` SQL:
overture/add_columns.py:50-63). A reference user lives in SQL; this module
gives them the same entry point: ``register(spark)`` once, then

    spark.sql(\"\"\"
        SELECT doc_id, quadkey FROM buildings
        WHERE quadkey LIKE '30100133%'            -- pushed-down coarse filter
          AND ob_within(wkt, '<aoi wkt>')          -- exact refinement
    \"\"\")

Every function is an Arrow-batched pandas UDF over the shared numpy kernels
(no row-at-a-time Python); the two-argument predicates run the engine's one
grouped refine core (``udfs.make_pair_predicate``): each batch groups by the
right-hand geometry, so the common literal-AOI case parses the AOI once per
batch, and a join-carried AOI column stays O(batch log batch).

Registered functions (z = 12, the engine/reference tile level):

  ob_quadkey(wkt)           z12 quadkey of the geometry's bbox midpoint
                            (reference anchor semantics, add_columns.py:40-47)
  ob_point_quadkey(lon,lat) z12 quadkey of a lon/lat point
  ob_within(wkt, other)     ST_Within(geom, other)  — boundary-inclusive,
                            same kernel as the AOI query refinement
  ob_intersects(wkt, other) ST_Intersects(geom, other)
  ob_area_m2(wkt)           EPSG:6933 equal-area m² (google/process.py:104-109)
  ob_centroid_lon(wkt) / ob_centroid_lat(wkt)
  ob_plus_code(lat, lon)    Plus Code, codeLength 12 (google/process.py:112-113)
  ob_s2_cell(lon, lat, lvl) int64 S2 cell id at level lvl (geo/s2.py; the
                            S2 half of the H3/S2-index surface)
  ob_s2_key(lon, lat, lvl)  S2 key STRING at level lvl (face digit +
                            base-4 Hilbert digits — the S2 table layer's
                            routing key, table/s2table.py)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType

from .geo import kernels, mercator
from .geo.wkt import parse_wkt_batch
from .udfs import ZOOM, make_pair_predicate, plus_code12


@F.pandas_udf(StringType())
def _ob_quadkey(wkt: pd.Series) -> pd.Series:
    batch = parse_wkt_batch(wkt)
    mid = kernels.bbox_midpoints(batch)
    bad = batch.gtype == -1
    qk = mercator.lonlat_to_quadkey_np(
        np.where(bad, 0.0, mid[:, 0]), np.where(bad, 0.0, mid[:, 1]), ZOOM
    )
    return pd.Series(qk, dtype=object).where(~bad, None)


@F.pandas_udf(StringType())
def _ob_point_quadkey(lon: pd.Series, lat: pd.Series) -> pd.Series:
    lo = lon.to_numpy(dtype=np.float64)
    la = lat.to_numpy(dtype=np.float64)
    bad = np.isnan(lo) | np.isnan(la)
    qk = mercator.lonlat_to_quadkey_np(
        np.where(bad, 0.0, lo), np.where(bad, 0.0, la), ZOOM
    )
    return pd.Series(qk, dtype=object).where(~pd.Series(bad), None)


@F.pandas_udf(DoubleType())
def _ob_area_m2(wkt: pd.Series) -> pd.Series:
    batch = parse_wkt_batch(wkt)
    area = kernels.area_6933(batch)
    return pd.Series(np.where(batch.gtype == -1, np.nan, area))


@F.pandas_udf(DoubleType())
def _ob_centroid_lon(wkt: pd.Series) -> pd.Series:
    batch = parse_wkt_batch(wkt)
    cen = kernels.centroids(batch)
    return pd.Series(np.where(batch.gtype == -1, np.nan, cen[:, 0]))


@F.pandas_udf(DoubleType())
def _ob_centroid_lat(wkt: pd.Series) -> pd.Series:
    batch = parse_wkt_batch(wkt)
    cen = kernels.centroids(batch)
    return pd.Series(np.where(batch.gtype == -1, np.nan, cen[:, 1]))


@F.pandas_udf(LongType())
def _ob_s2_cell(lon: pd.Series, lat: pd.Series, level: pd.Series) -> pd.Series:
    """S2 cell id at ``level`` (int64, public S2 bit layout — geo/s2.py).
    Level is a per-row column for SQL composability; batches are grouped by
    the (almost always single) distinct level so the kernel stays
    vectorized."""
    from .geo import s2

    lo = lon.to_numpy(dtype=np.float64)
    la = lat.to_numpy(dtype=np.float64)
    lvf = level.to_numpy(dtype=np.float64)  # NULL level -> NaN, not INT_MIN
    bad = (
        np.isnan(lo)
        | np.isnan(la)
        | ~((lvf >= 0) & (lvf <= s2.MAX_LEVEL))  # NaN/out-of-range -> NULL
    )
    lv = np.where(np.isnan(lvf), 0.0, lvf).astype(np.int64)
    out = np.zeros(len(lo), dtype=np.int64)
    for one in np.unique(lv[~bad]):
        m = (lv == one) & ~bad
        out[m] = s2.cells_from_lonlat(lo[m], la[m], int(one))
    # astype BEFORE mask: mask on int64 upcasts to float64 and corrupts ids
    # beyond 2^53 (always at level >= 25) for every row sharing the batch.
    return pd.Series(out).astype("Int64").mask(bad)


@F.pandas_udf(StringType())
def _ob_s2_key(lon: pd.Series, lat: pd.Series, level: pd.Series) -> pd.Series:
    """S2 KEY STRING at ``level`` (face digit + base-4 Hilbert digits —
    geo/s2.py key_strings): the table layer's S2 routing key, exposed to
    SQL so a pure-SQL pipeline can build/join against S2 tables. Same
    per-row-level grouping and NULL rules as ``ob_s2_cell``."""
    from .geo import s2

    lo = lon.to_numpy(dtype=np.float64)
    la = lat.to_numpy(dtype=np.float64)
    lvf = level.to_numpy(dtype=np.float64)
    bad = (
        np.isnan(lo)
        | np.isnan(la)
        | ~((lvf >= 0) & (lvf <= s2.MAX_LEVEL))
    )
    lv = np.where(np.isnan(lvf), 0.0, lvf).astype(np.int64)
    out = np.empty(len(lo), dtype=object)
    out[:] = None
    for one in np.unique(lv[~bad]):
        m = (lv == one) & ~bad
        ids = s2.cells_from_lonlat(lo[m], la[m], int(one))
        out[m] = s2.key_strings(ids, int(one))
    return pd.Series(out)


def register(spark: SparkSession) -> None:
    """Register all ``ob_*`` SQL functions on this session (idempotent)."""
    spark.udf.register("ob_s2_cell", _ob_s2_cell)
    spark.udf.register("ob_s2_key", _ob_s2_key)
    spark.udf.register("ob_quadkey", _ob_quadkey)
    spark.udf.register("ob_point_quadkey", _ob_point_quadkey)
    spark.udf.register("ob_within", make_pair_predicate(kernels.within_mask))
    spark.udf.register("ob_intersects", make_pair_predicate(kernels.intersects_mask))
    spark.udf.register("ob_area_m2", _ob_area_m2)
    spark.udf.register("ob_centroid_lon", _ob_centroid_lon)
    spark.udf.register("ob_centroid_lat", _ob_centroid_lat)
    spark.udf.register("ob_plus_code", plus_code12)


def create_view(
    spark: SparkSession,
    table_root: str,
    name: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Expose an iceberg_lite table root as a temp view for pure-SQL use
    (optionally time-traveled) and return the backing DataFrame. Catalyst
    still gets the manifest-planned file list, so LIKE-prefix predicates
    prune row groups exactly as the DataFrame path does."""
    from .table import iceberg_lite as tbl

    df = tbl.read_table(spark, table_root, snapshot_id=snapshot_id)
    df.createOrReplaceTempView(name)
    return df
