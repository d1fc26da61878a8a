"""CLI parity with the reference's ``ob`` tool (open_buildings/cli.py), so a
reference user can run the same commands against this engine:

  python -m open_buildings_spark quadkey  < aoi.geojson     (ob tools quadkey)
  python -m open_buildings_spark wkt      < aoi.geojson     (ob tools WKT)
  python -m open_buildings_spark quad2json 031313131112     (ob tools quad2json)
  python -m open_buildings_spark sql      < aoi.geojson     (ob tools sql)
  python -m open_buildings_spark get-buildings --table T --aoi aoi.geojson \
         --dst out.json [--format json|parquet|geoparquet|fgb|gpkg|shp] [--country-iso XX]
  python -m open_buildings_spark enrich    --src docs-parquet --dst table-root
  python -m open_buildings_spark partition --src table-root --max-per-file N

``geocode`` (place name -> AOI via Nominatim) is intentionally absent: no
network in the target environment; pass AOI GeoJSON directly.
"""

from __future__ import annotations

import argparse
import json
import sys


def _read_geojson(path: str | None) -> dict:
    if path:
        with open(path) as fh:
            data = json.load(fh)
    else:
        data = json.load(sys.stdin)
    if data.get("type") == "FeatureCollection":
        if not data.get("features"):
            raise SystemExit("empty FeatureCollection: no AOI feature to use")
        return data["features"][0]
    return data


def cmd_quadkey(args) -> None:
    from .geo.mercator import geojson_to_quadkey

    print(geojson_to_quadkey(_read_geojson(args.geojson)))


def cmd_wkt(args) -> None:
    from .geo.wkt import geojson_geometry_to_wkt

    print(geojson_geometry_to_wkt(_read_geojson(args.geojson)["geometry"]))


def cmd_quad2json(args) -> None:
    from .geo.mercator import quadkey_to_geojson

    print(json.dumps(quadkey_to_geojson(args.quadkey), indent=2))


def cmd_sql(args) -> None:
    """Emit the equivalent relational query text (reference `ob tools sql`,
    download_buildings.py:91-118) — here, the DataFrame plan the engine runs."""
    from .geo.mercator import geojson_to_quadkey
    from .geo.wkt import geojson_geometry_to_wkt

    feat = _read_geojson(args.geojson)
    qk = geojson_to_quadkey(feat)
    wkt = geojson_geometry_to_wkt(feat["geometry"])
    where = f"WHERE quadkey LIKE '{qk}%'"
    if not args.only_quadkey:
        where += f"\n  AND st_within(geometry, '{wkt}')  -- engine: Arrow within-kernel"
    print(f"SELECT * FROM docs_table\n{where}")


def cmd_get_buildings(args) -> None:
    from .operators import aoi as aoi_op
    from .operators import sinks
    from .session import get_spark
    from .table import iceberg_lite as tbl

    spark = get_spark(app_name="ob-get-buildings")
    feat = _read_geojson(args.aoi)
    from .geo.mercator import geojson_to_quadkey

    prefix = geojson_to_quadkey(feat)
    try:
        docs = tbl.read_table(spark, args.table, quadkey_prefix=prefix or None)
    except FileNotFoundError:
        docs = spark.read.parquet(args.table)
    hit = aoi_op.aoi_query(docs, feat, country_iso=args.country_iso).cache()
    n = hit.count()
    if n == 0:
        print("No buildings found for the given AOI.", file=sys.stderr)
        return
    # format from extension like the reference's driver map
    # (download_buildings.py:304-311: .json->GeoJSON, .fgb->FlatGeobuf, ...)
    fmt = args.format or (
        "json"
        if args.dst.endswith((".json", ".geojson"))
        else "fgb"
        if args.dst.endswith(".fgb")
        else "gpkg"
        if args.dst.endswith(".gpkg")
        else "shp" if args.dst.endswith(".shp") else "parquet"
    )
    if fmt == "json":
        sinks.write_geojson(hit, args.dst)
    elif fmt == "fgb":
        from .operators import flatgeobuf

        flatgeobuf.write_fgb(hit.drop("spans"), args.dst)
    elif fmt == "gpkg":
        from .operators import gpkg

        gpkg.write_gpkg(hit.drop("spans"), args.dst)
    elif fmt == "shp":
        from .operators import shapefile

        shapefile.write_shp(hit.drop("spans"), args.dst)
    elif fmt == "geoparquet":
        sinks.write_geoparquet(hit.drop("spans"), args.dst)
    else:
        hit.write.mode("overwrite").parquet(args.dst)
    print(f"wrote {n} buildings to {args.dst} ({fmt})")


def cmd_enrich(args) -> None:
    from . import datagen
    from .operators import enrich
    from .session import get_spark
    from .table import iceberg_lite as tbl

    spark = get_spark(app_name="ob-enrich")
    docs = spark.read.parquet(args.src)
    clist = None
    if args.countries:
        cdf = spark.read.parquet(args.countries)
        out = enrich.add_country_iso_from_table(
            enrich.add_geo_columns(docs, drop_nongeo=True), cdf
        )
    else:
        clist = [
            (iso, [([[w, s], [e, s], [e, n], [w, n], [w, s]], False)])
            for iso, (w, s, e, n) in datagen.countries()
        ]
        out = enrich.add_geo_columns(docs, drop_nongeo=True, countries=clist)
    m = tbl.write_partitioned(out, args.dst, max_per_file=args.max_per_file)
    print(f"snapshot {m['snapshot_id']}: {len(m['partitions'])} partitions, "
          f"{m['metrics']['rows_written']} rows")


def cmd_partition(args) -> None:
    from .session import get_spark
    from .table import iceberg_lite as tbl

    spark = get_spark(app_name="ob-partition")
    docs = spark.read.parquet(args.src)
    keys = [k for k in (args.keys or "").split(",") if k]
    m = tbl.write_partitioned(docs, args.dst, max_per_file=args.max_per_file,
                              cells_per_commit=args.cells_per_commit, keys=keys)
    print(f"snapshot {m['snapshot_id']}: {len(m['partitions'])} partitions")


def cmd_benchmark(args) -> None:
    """Conversion benchmark matrix (= ``ob google benchmark``,
    reference cli.py:90-162 / google/process.py:449-476): time the convert
    pipeline per (process, format), render as a process x format pivot.

    Reference processes are duckdb/pandas/ogr engines; here the engine
    variants are ``spark`` (multipolygon split + derived attrs, like the
    reference's split-multis mode) and ``spark-nosplit`` (pass-through,
    like ogr which cannot split, google/process.py:342-344).
    """
    import json as _json
    import os
    import time

    import pandas as pd

    from .operators import convert, sinks
    from .session import get_spark

    spark = get_spark(app_name="ob-benchmark")
    processes = args.processes.split(",")
    formats = args.formats.split(",")
    rows = []
    for proc in processes:
        for fmt in formats:
            t0 = time.time()
            out = convert.convert_google_csv(
                spark, args.src, split_multipolygons=(proc != "spark-nosplit")
            )
            dst = os.path.join(args.dst, f"{proc}_{fmt}")
            if fmt == "parquet":
                out.write.mode("overwrite").option("compression", "snappy").parquet(dst)
            elif fmt == "geoparquet":
                sinks.write_geoparquet(out.withColumnRenamed("geometry", "wkt"), dst)
            elif fmt == "json":
                os.makedirs(args.dst, exist_ok=True)
                sinks.write_geojson(
                    out.withColumnRenamed("geometry", "wkt").limit(args.json_limit),
                    dst + ".json",
                )
            elif fmt == "fgb":
                from .operators import flatgeobuf

                os.makedirs(args.dst, exist_ok=True)
                flatgeobuf.write_fgb(
                    out.withColumnRenamed("geometry", "wkt"), dst + ".fgb"
                )
            elif fmt == "gpkg":
                from .operators import gpkg as gpkg_op

                os.makedirs(args.dst, exist_ok=True)
                gpkg_op.write_gpkg(
                    out.withColumnRenamed("geometry", "wkt"), dst + ".gpkg"
                )
            elif fmt == "shp":
                from .operators import shapefile as shp_op

                os.makedirs(args.dst, exist_ok=True)
                shp_op.write_shp(
                    out.withColumnRenamed("geometry", "wkt"), dst + ".shp"
                )
            else:
                raise SystemExit(f"unknown format: {fmt}")
            rows.append(
                {"process": proc, "format": fmt,
                 "execution_time": round(time.time() - t0, 3)}
            )
    df = pd.DataFrame(rows)
    pivot = df.pivot(index="process", columns="format", values="execution_time")
    if args.output_format == "csv":
        print(pivot.to_csv())
    elif args.output_format == "json":
        print(_json.dumps(rows))
    else:
        print(pivot.to_string())


def cmd_stac(args) -> None:
    from .operators import sinks

    cat = sinks.write_stac_catalog(args.table, item_datetime=args.item_datetime)
    n = sum(1 for l in cat["links"] if l["rel"] == "item")
    print(f"wrote STAC catalog with {n} items under {args.table}/metadata/stac")


def cmd_delete(args) -> None:
    """DELETE FROM table WHERE predicate (reference google/process.py:149)
    as a copy-on-write snapshot: old snapshots still time-travel."""
    from .session import get_spark
    from .table import iceberg_lite as tbl

    spark = get_spark(app_name="ob-delete")
    m = tbl.delete_rows(spark, args.table, args.where)
    print(
        f"snapshot {m['snapshot_id']}: {m['metrics'].get('rows_deleted', 0)} "
        f"rows deleted total, {len(m['partitions'])} partitions remain"
    )


def cmd_update(args) -> None:
    """UPDATE table SET col=expr WHERE predicate (reference
    overture/add_columns.py:40-47) as a copy-on-write MERGE."""
    from .session import get_spark
    from .table import iceberg_lite as tbl

    spark = get_spark(app_name="ob-update")
    assignments = {}
    for a in args.set:
        col, _, expr = a.partition("=")
        if not expr:
            raise SystemExit(f"--set needs col=expr, got {a!r}")
        assignments[col.strip()] = expr
    m = tbl.update_rows(
        spark, args.table, assignments, predicate=args.where, key=args.key
    )
    print(f"snapshot {m['snapshot_id']}: update committed")


def cmd_compact(args) -> None:
    """Small-file compaction + optional old-snapshot expiry."""
    from .session import get_spark
    from .table import iceberg_lite as tbl

    spark = get_spark(app_name="ob-compact")
    m = tbl.compact_cells(spark, args.table, max_files=args.max_files)
    print(
        f"snapshot {m['snapshot_id']}: compacted "
        f"{m['metrics'].get('compacted_cells', 0)} cells"
    )
    if args.expire:
        deleted = tbl.expire_snapshots(args.table, keep_last=args.keep_last)
        print(f"expired snapshots: {deleted} files reclaimed")


def cmd_export_sharded(args) -> None:
    """Sharded geo export (one spec-complete file per quadkey shard +
    manifest) from a table — the export shape with no driver byte-funnel."""
    from .operators import sharded
    from .session import get_spark
    from .table import iceberg_lite as tbl

    from .operators import flatgeobuf, gpkg, shapefile

    spark = get_spark(app_name="ob-export-sharded")
    df = tbl.read_table(spark, args.table)
    # the chosen FORMAT's own column validator decides what exports (one
    # source of truth — a hardcoded scalar whitelist here would drift):
    # unsupported columns (nested spans, media payloads, reserved names)
    # are dropped with a notice, like GDAL exporting attribute columns
    validators = {
        "fgb": flatgeobuf.fgb_columns,
        "gpkg": gpkg.gpkg_columns,
        "shp": shapefile.shp_columns,
    }
    validate = validators[args.format]

    def exportable(field) -> bool:
        try:
            validate([field], wkt_col="__none__")
            return True
        except ValueError:
            return False

    keep = [
        f.name
        for f in df.schema.fields
        if f.name == "wkt" or exportable(f)
    ]
    dropped = sorted(set(df.columns) - set(keep))
    if "wkt" not in keep:
        raise SystemExit(f"table at {args.table} has no wkt geometry column")
    if dropped:
        print(f"skipping columns the {args.format} format cannot carry: {dropped}")
    manifest = sharded.sharded_export(
        df.select(*keep), args.dst, fmt=args.format, level=args.level
    )
    print(
        f"wrote {len(manifest['shards'])} {args.format} shards "
        f"({manifest['total_rows']} rows) under {args.dst}"
    )


def _parse_bbox(raw: str) -> tuple[float, float, float, float]:
    parts = raw.split(",")
    if len(parts) != 4:
        raise SystemExit("--bbox wants 4 comma-separated values: w,s,e,n")
    w, s, e, n = (float(v) for v in parts)
    # an inverted window silently prunes everything — fail loudly instead
    if w > e or s > n:
        raise SystemExit(
            f"--bbox order is w,s,e,n (lon_min,lat_min,lon_max,lat_max); "
            f"got w={w} > e={e}" if w > e else
            f"--bbox order is w,s,e,n (lon_min,lat_min,lon_max,lat_max); "
            f"got s={s} > n={n}"
        )
    return w, s, e, n


def _emit_window_result(spark, df, dst, phrase: str) -> None:
    """Shared window-command output: parquet write + read-back count, or
    '<count> <phrase>' on stdout when no destination is given."""
    if dst:
        df.write.mode("overwrite").parquet(dst)
        print(f"wrote {spark.read.parquet(dst).count()} rows to {dst}")
    else:
        print(f"{df.count()} {phrase}")


def cmd_window(args) -> None:
    """Window query over a sharded geo export: manifest envelope prune +
    per-shard index walk (FGB Hilbert R-tree / GPKG rtree / shp record
    bboxes), results to parquet or stdout count."""
    from .operators import sharded
    from .session import get_spark

    w, s, e, n = _parse_bbox(args.bbox)
    spark = get_spark(app_name="ob-window")
    df = sharded.sharded_to_df(spark, args.src, bbox=(w, s, e, n))
    _emit_window_result(spark, df, args.dst, f"features intersect ({w}, {s}, {e}, {n})")


def cmd_s2_layout(args) -> None:
    """Build an S2-ordered parquet layout (range-partitioned + sorted by
    leaf id, per-file [min,max] manifest) from a parquet source carrying
    centroid lon/lat columns — the numeric-range serving layout next to
    the quadkey table (operators/s2scan.py)."""
    from .operators import s2scan
    from .session import get_spark

    if args.files < 1:
        raise SystemExit(f"--files must be >= 1, got {args.files}")
    spark = get_spark(app_name="ob-s2-layout")
    df = spark.read.parquet(args.src)
    m = s2scan.write_s2_layout(
        df, args.dst, num_files=args.files, lon_col=args.lon_col,
        lat_col=args.lat_col,
    )
    print(
        f"wrote {sum(f['rows'] for f in m['files'])} rows in "
        f"{len(m['files'])} S2-ordered files to {args.dst}"
    )


def cmd_s2_window(args) -> None:
    """Bbox window over an S2 layout: manifest file prune + pushed
    OR-of-BETWEEN leaf-id ranges + exact native lon/lat refine."""
    from .operators import s2scan
    from .session import get_spark

    w, s, e, n = _parse_bbox(args.bbox)
    spark = get_spark(app_name="ob-s2-window")
    df = s2scan.s2_bbox_scan(spark, args.src, w, s, e, n)
    _emit_window_result(spark, df, args.dst, f"rows with centroid in ({w}, {s}, {e}, {n})")


def cmd_s2_table(args) -> None:
    """Build an S2-LAYOUT iceberg_lite table (snapshots, MERGE, time
    travel, compaction — table/s2table.py) from a parquet source with
    centroid lon/lat columns."""
    from .session import get_spark
    from .table import s2table as s2t

    spark = get_spark(app_name="ob-s2-table")
    df = spark.read.parquet(args.src)
    m = s2t.write_s2_table(
        df, args.dst, max_per_file=args.max_per_file, level=args.level,
        lon_col=args.lon_col, lat_col=args.lat_col,
    )
    print(
        f"S2 table at {args.dst}: snapshot {m['snapshot_id']}, "
        f"{m['metrics']['rows_written']} rows in {len(m['partitions'])} cells "
        f"(key level {args.level})"
    )


def cmd_s2_table_window(args) -> None:
    """Bbox window over an S2 TABLE: cover prefixes -> manifest cell
    pruning -> pushed startswith -> exact refine (time travel via
    --snapshot)."""
    from .session import get_spark
    from .table import s2table as s2t

    w, s, e, n = _parse_bbox(args.bbox)
    spark = get_spark(app_name="ob-s2-table-window")
    df = s2t.window_read(
        spark, args.src, w, s, e, n, snapshot_id=args.snapshot
    )
    _emit_window_result(spark, df, args.dst, f"rows with centroid in ({w}, {s}, {e}, {n})")


def cmd_mixture(args) -> None:
    """Deterministic dataset-mixture draw: --weights src=frac,... picks
    the largest subset matching the target proportions without
    upsampling (operators/sampling.py mixture_sample)."""
    from pyspark.sql import functions as F

    from .operators.sampling import mixture_sample
    from .session import get_spark

    weights: dict[str, float] = {}
    for part in args.weights.split(","):
        k, sep, v = part.strip().partition("=")
        k = k.strip()
        try:
            frac = float(v)
        except ValueError:
            frac = None
        if not sep or not k or frac is None:
            raise SystemExit(f"bad --weights entry {part!r}; use src=frac,...")
        weights[k] = frac
    spark = get_spark(app_name="ob-mixture")
    df = spark.read.parquet(args.src)
    # CLI weight keys are always strings: map each to the strata column's
    # NATIVE value (via Spark's own string cast) so a non-string column
    # (e.g. int source ids) reaches mixture_sample with matching keys. A
    # weighted source with no rows binds the whole mix to zero — a typo in
    # --weights must fail loudly, not ship an empty training mix
    native = {
        r["_s"]: r["_v"]
        for r in df.select(
            F.col(args.strata_col).alias("_v"),
            F.col(args.strata_col).cast("string").alias("_s"),
        )
        .distinct()
        .collect()
    }
    missing = sorted(set(weights) - set(native))
    if missing:
        raise SystemExit(
            f"--weights names source(s) with no rows: {missing}; "
            f"available: {sorted(native)[:20]}"
        )
    out = mixture_sample(
        df,
        {native[k]: w for k, w in weights.items()},
        strata_col=args.strata_col,
        id_col=args.id_col,
    )
    out.write.mode("overwrite").parquet(args.dst)
    n = spark.read.parquet(args.dst).count()
    print(f"mixture of {n} rows written to {args.dst}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="open_buildings_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("quadkey", help="GeoJSON AOI -> covering quadkey")
    q.add_argument("geojson", nargs="?")
    q.set_defaults(fn=cmd_quadkey)

    w = sub.add_parser("wkt", help="GeoJSON AOI -> WKT")
    w.add_argument("geojson", nargs="?")
    w.set_defaults(fn=cmd_wkt)

    qj = sub.add_parser("quad2json", help="quadkey -> tile GeoJSON")
    qj.add_argument("quadkey")
    qj.set_defaults(fn=cmd_quad2json)

    sq = sub.add_parser("sql", help="emit the AOI query text")
    sq.add_argument("geojson", nargs="?")
    sq.add_argument("--only-quadkey", action="store_true")
    sq.set_defaults(fn=cmd_sql)

    gb = sub.add_parser("get-buildings", help="AOI query over a docs table")
    gb.add_argument("--table", required=True, help="iceberg-lite root or parquet dir")
    gb.add_argument("--aoi", required=True)
    gb.add_argument("--dst", required=True)
    gb.add_argument("--format", choices=["json", "parquet", "geoparquet", "fgb", "gpkg", "shp"])
    gb.add_argument("--country-iso")
    gb.set_defaults(fn=cmd_get_buildings)

    en = sub.add_parser("enrich", help="add quadkey/country columns, write table")
    en.add_argument("--src", required=True)
    en.add_argument("--dst", required=True)
    en.add_argument("--countries", help="countries parquet (WKB schema)")
    en.add_argument("--max-per-file", type=int, default=10_000_000)
    en.set_defaults(fn=cmd_enrich)

    pt = sub.add_parser("partition", help="adaptive quadkey partitioning")
    pt.add_argument("--src", required=True)
    pt.add_argument("--dst", required=True)
    pt.add_argument("--max-per-file", type=int, default=10_000_000)
    pt.add_argument("--cells-per-commit", type=int, default=0)
    pt.add_argument(
        "--keys", default="",
        help="comma-separated hive partition key columns (country_iso=XX layout)",
    )
    pt.set_defaults(fn=cmd_partition)

    bm = sub.add_parser("benchmark", help="conversion timing matrix (process x format)")
    bm.add_argument("--src", required=True, help="Google-schema CSV path")
    bm.add_argument("--dst", required=True, help="output directory")
    bm.add_argument("--processes", default="spark,spark-nosplit")
    bm.add_argument("--formats", default="parquet,geoparquet,json")
    bm.add_argument("--output-format", choices=["ascii", "csv", "json"], default="ascii")
    bm.add_argument("--json-limit", type=int, default=100_000,
                    help="cap GeoJSON export rows (driver-side text sink)")
    bm.set_defaults(fn=cmd_benchmark)

    st = sub.add_parser("stac", help="emit STAC catalog for a table's data files")
    st.add_argument("--table", required=True, help="iceberg-lite table root")
    st.add_argument("--item-datetime", default="2023-05-30T00:00:00Z")
    st.set_defaults(fn=cmd_stac)

    dl = sub.add_parser("delete", help="DELETE FROM table WHERE predicate")
    dl.add_argument("--table", required=True, help="iceberg-lite table root")
    dl.add_argument("--where", required=True, help="SQL predicate; TRUE rows delete")
    dl.set_defaults(fn=cmd_delete)

    up = sub.add_parser("update", help="UPDATE table SET col=expr WHERE pred")
    up.add_argument("--table", required=True, help="iceberg-lite table root")
    up.add_argument(
        "--set", action="append", required=True, metavar="COL=EXPR",
        help="assignment (repeatable)",
    )
    up.add_argument("--where", default=None, help="SQL predicate (default: all rows)")
    up.add_argument("--key", default="doc_id", help="unique row key column")
    up.set_defaults(fn=cmd_update)

    cp = sub.add_parser("compact", help="compact fragmented cells")
    cp.add_argument("--table", required=True, help="iceberg-lite table root")
    cp.add_argument("--max-files", type=int, default=1)
    cp.add_argument("--expire", action="store_true", help="expire old snapshots after")
    cp.add_argument("--keep-last", type=int, default=1)
    cp.set_defaults(fn=cmd_compact)

    ex = sub.add_parser(
        "export-sharded", help="one geo file per quadkey shard + manifest"
    )
    ex.add_argument("--table", required=True, help="iceberg-lite table root")
    ex.add_argument("--dst", required=True, help="output directory")
    ex.add_argument("--format", choices=["fgb", "gpkg", "shp"], default="fgb")
    ex.add_argument("--level", type=int, default=4, help="quadkey shard level")
    ex.set_defaults(fn=cmd_export_sharded)

    wq = sub.add_parser(
        "window", help="bbox window query over a sharded geo export"
    )
    wq.add_argument("--src", required=True, help="sharded export directory")
    wq.add_argument(
        "--bbox", required=True, help="w,s,e,n in lon/lat degrees"
    )
    wq.add_argument("--dst", help="parquet output (omit to print the count)")
    wq.set_defaults(fn=cmd_window)

    sl = sub.add_parser(
        "s2-layout", help="build an S2-ordered range-serving parquet layout"
    )
    sl.add_argument("--src", required=True, help="parquet with lon/lat columns")
    sl.add_argument("--dst", required=True, help="layout output directory")
    sl.add_argument("--files", type=int, default=16, help="number of range files")
    sl.add_argument("--lon-col", dest="lon_col", default="lon")
    sl.add_argument("--lat-col", dest="lat_col", default="lat")
    sl.set_defaults(fn=cmd_s2_layout)

    sw = sub.add_parser(
        "s2-window", help="bbox window query over an S2 layout"
    )
    sw.add_argument("--src", required=True, help="S2 layout directory")
    sw.add_argument("--bbox", required=True, help="w,s,e,n in lon/lat degrees")
    sw.add_argument("--dst", help="parquet output (omit to print the count)")
    sw.set_defaults(fn=cmd_s2_window)

    s2t = sub.add_parser(
        "s2-table", help="build an S2-layout iceberg_lite table"
    )
    s2t.add_argument("--src", required=True, help="parquet source with lon/lat")
    s2t.add_argument("--dst", required=True, help="table root")
    s2t.add_argument("--max-per-file", type=int, default=200_000)
    s2t.add_argument("--level", type=int, default=14, help="S2 key level")
    s2t.add_argument("--lon-col", default="lon")
    s2t.add_argument("--lat-col", default="lat")
    s2t.set_defaults(fn=cmd_s2_table)

    s2w = sub.add_parser(
        "s2-table-window", help="bbox window query over an S2 table"
    )
    s2w.add_argument("--src", required=True, help="S2 table root")
    s2w.add_argument("--bbox", required=True, help="w,s,e,n in lon/lat degrees")
    s2w.add_argument("--snapshot", type=int, help="time travel to snapshot id")
    s2w.add_argument("--dst", help="parquet output (omit to print the count)")
    s2w.set_defaults(fn=cmd_s2_table_window)

    mx = sub.add_parser(
        "mixture", help="deterministic dataset-mixture draw by source proportions"
    )
    mx.add_argument("--src", required=True, help="parquet corpus")
    mx.add_argument("--dst", required=True, help="parquet output")
    mx.add_argument("--weights", required=True, help="src=frac,src=frac,...")
    mx.add_argument("--strata-col", default="source")
    mx.add_argument("--id-col", default="doc_id")
    mx.set_defaults(fn=cmd_mixture)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
