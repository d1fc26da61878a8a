"""Sharded geo export: one complete file per quadkey shard + a manifest.

Single-file geo formats (FlatGeobuf / GeoPackage / Shapefile) are
inherently single-writer at assembly time: the engine's ``write_fgb`` /
``write_gpkg`` / ``write_shp`` stream distributed-encoded parts through
one driver loop, and the reference pays the same funnel inside one GDAL
process (``ogr2ogr``-style, download_buildings.py:306-309). At planet
scale that funnel — and shapefile's hard 2 GiB cap — make ONE file the
wrong tool. This module writes one spec-complete file PER quadkey shard
from inside its own executor task, so the export parallelizes with the
cluster; a JSON manifest lists the shards. Every shard file round-trips
with the engine's standard readers (and GDAL/QGIS — plain .fgb/.gpkg/.shp
files).

Scale shape: one shuffle groups rows by ``substring(quadkey, 1, level)``
(repartition + sortWithinPartitions, so each task walks its shards as
contiguous quadkey-sorted runs) and a ``mapInArrow`` pass builds each
shard's file with the SAME encode kernel and file assembler the
single-file writers use: each shard's Arrow slices go straight into the
format's ``encode`` and the encoded batches, held in task memory, into its
``write_file`` (FlatGeobuf shards first take the spec's Hilbert feature
order). Arrow ``to_pylist`` keeps nullable int64 values exact, so no
pandas conversion sits in between. A shard must fit in task memory — pick
``level`` so the densest shard does (the partition planner's histogram
tells you); the shapefile assembler additionally enforces the format's
2 GiB cap per shard.
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EXT = {"fgb": ".fgb", "gpkg": ".gpkg", "shp": ".shp"}


def sharded_export(
    df: DataFrame,
    out_dir: str,
    fmt: str = "fgb",
    level: int = 4,
    wkt_col: str = "wkt",
    prefix: str = "part",
    on_null_quadkey: str = "error",
) -> dict:
    """Write ``df`` as one ``fmt`` file per quadkey shard under
    ``out_dir`` and return the manifest (also written to
    ``out_dir/manifest.json``). ``df`` needs a ``quadkey`` column (enrich
    first) plus WKT geometry; attribute columns follow the format's type
    rules (validated up front on the Spark schema — pandas dtypes are not
    trusted).

    ``on_null_quadkey``: a NULL quadkey — or one shorter than ``level``,
    which cannot form a full shard key either — cannot be routed:
    ``'error'`` (default) fails the export loudly, like the table layer's
    append guard; ``'skip'`` drops such rows (they appear in no shard and
    no manifest count)."""
    from . import flatgeobuf, funnel, gpkg, shapefile

    if fmt not in _EXT:
        raise ValueError(f"unknown sharded export format {fmt!r}")
    if on_null_quadkey not in ("error", "skip"):
        raise ValueError(f"on_null_quadkey must be 'error' or 'skip'")
    if "quadkey" not in df.columns:
        raise ValueError("sharded_export needs a quadkey column; enrich first")
    if "_obs_shard" in df.columns:
        raise ValueError("column name _obs_shard is reserved")

    fields = list(df.schema.fields)
    if fmt == "fgb":
        columns = flatgeobuf.fgb_columns(fields, wkt_col)
        encode = partial(flatgeobuf.encode, wkt_col=wkt_col, columns=columns)

        def write(path, encoded):
            batches = funnel.in_memory(flatgeobuf.hilbert_ordered(encoded))
            return flatgeobuf.write_file(path, batches, columns)

    elif fmt == "gpkg":
        columns = gpkg.gpkg_columns(fields, wkt_col)
        encode = partial(
            gpkg.encode, wkt_col=wkt_col, col_names=[c for c, _ in columns]
        )

        def write(path, encoded):
            return gpkg.write_file(path, funnel.in_memory(encoded), columns)

    else:
        columns = shapefile.shp_columns(fields, wkt_col)
        encode = partial(shapefile.encode, wkt_col=wkt_col, columns=columns)

        def write(path, encoded):
            return shapefile.write_file(path, funnel.in_memory(encoded), columns)

    # reader schema, stored in the manifest so window reads (and the
    # empty-result case) get the export's exact column set/types without
    # opening any shard file: wkt first, attributes in export order.
    # Shapefile attribute names come back DBF-truncated (collisions
    # already rejected by shp_columns), so the manifest must record what
    # the reader will actually produce.
    def _rname(name: str) -> str:
        return shapefile.dbf_field_name(name) if fmt == "shp" else name

    reader_schema = ", ".join(
        ["wkt string"]
        + [
            f"`{_rname(f.name)}` {f.dataType.simpleString()}"
            for f in fields
            if f.name != wkt_col
        ]
    )

    os.makedirs(out_dir, exist_ok=True)
    ext = _EXT[fmt]
    out_abs = os.path.abspath(out_dir)

    if on_null_quadkey == "error":
        # the shard key is the groupBy key, so this raise_error branch is
        # never pruned: an unroutable row fails the job (mirrors
        # append_rows' refusal) instead of silently vanishing
        routable = F.col("quadkey").isNotNull() & (
            F.length("quadkey") >= level
        )
        shard_col = F.when(
            routable, F.substring("quadkey", 1, level)
        ).otherwise(
            F.raise_error(
                F.lit(
                    "sharded_export: NULL or too-short quadkey row cannot "
                    "be routed to a shard; enrich/filter first or pass "
                    "on_null_quadkey='skip'"
                )
            )
        )
        sh = df.withColumn("_obs_shard", shard_col)
    else:
        sh = df.filter(
            F.col("quadkey").isNotNull() & (F.length("quadkey") >= level)
        ).withColumn("_obs_shard", F.substring("quadkey", 1, level))
    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sh = sh.repartition(nparts, "_obs_shard").sortWithinPartitions(
        "_obs_shard", "quadkey"
    )
    sidx = sh.columns.index("_obs_shard")

    def enc(batches):
        import pyarrow as pa

        out_rows = []
        cur = None
        pending: list = []

        def flush():
            nonlocal pending, cur
            if cur is None:
                return
            path = os.path.join(out_abs, f"{prefix}-{cur}{ext}")
            n, env = write(path, pending)
            out_rows.append((cur, os.path.basename(path), n, env))
            pending = []

        for rb in batches:
            if rb.num_rows == 0:
                continue
            cells = rb.column(sidx).to_pylist()
            start = 0
            for i in range(len(cells) + 1):
                if i < len(cells) and cells[i] == cells[start]:
                    continue
                if cur != cells[start]:
                    flush()
                    cur = cells[start]
                encoded = encode(rb.slice(start, i - start))
                if encoded is not None:
                    pending.append(encoded)
                start = i
        flush()
        for cell, fname, n, env in out_rows:
            e = env if env is not None else [None] * 4
            yield pa.record_batch(
                [
                    pa.array([cell]),
                    pa.array([fname]),
                    pa.array([n], type=pa.int64()),
                    pa.array([e[0]], type=pa.float64()),
                    pa.array([e[1]], type=pa.float64()),
                    pa.array([e[2]], type=pa.float64()),
                    pa.array([e[3]], type=pa.float64()),
                ],
                names=["cell", "file", "n_rows", "minx", "miny", "maxx", "maxy"],
            )

    rows = sh.mapInArrow(
        enc,
        "cell string, file string, n_rows long, "
        "minx double, miny double, maxx double, maxy double",
    ).collect()
    # sweep orphan tmp files from killed/retried attempts (the unique
    # .inprogress names never self-overwrite, so failures would leak them)
    import glob as _glob

    for orphan in _glob.glob(os.path.join(out_abs, ".*.inprogress")):
        try:
            os.remove(orphan)
        except OSError:
            pass
    shards = sorted(
        (
            {
                "cell": r["cell"],
                "file": r["file"],
                "n_rows": r["n_rows"],
                # TRUE data envelope, not the cell's tile bounds: quadkeys
                # anchor at the geometry's bbox midpoint, so a geometry can
                # spill past its shard's tile — window reads must prune on
                # what the shard actually contains
                "envelope": [r["minx"], r["miny"], r["maxx"], r["maxy"]],
            }
            for r in rows
            if r["n_rows"] > 0
        ),
        key=lambda s: s["cell"],
    )
    # shards with zero encodable rows may have left an empty file behind
    for r in rows:
        if r["n_rows"] == 0:
            for suffix in (
                [ext] if fmt != "shp" else [".shp", ".shx", ".dbf"]
            ):
                p = os.path.join(
                    out_abs, f"{prefix}-{r['cell']}{suffix}"
                )
                if os.path.exists(p):
                    os.remove(p)
    manifest = {
        "format": fmt,
        "level": level,
        "prefix": prefix,
        "schema": reader_schema,
        "total_rows": sum(s["n_rows"] for s in shards),
        "shards": shards,
    }
    tmp = os.path.join(out_abs, ".manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_abs, "manifest.json"))
    return manifest


def read_sharded(out_dir: str):
    """Concatenate every shard back into one pandas DataFrame (test/interop
    helper; production readers open individual shards by cell)."""
    import pandas as pd

    from . import flatgeobuf, gpkg, shapefile

    with open(os.path.join(out_dir, "manifest.json")) as f:
        manifest = json.load(f)
    readers = {
        "fgb": flatgeobuf.read_fgb,
        "gpkg": gpkg.read_gpkg,
        "shp": shapefile.read_shp,
    }
    rd = readers[manifest["format"]]
    frames = [
        rd(os.path.join(out_dir, s["file"])) for s in manifest["shards"]
    ]
    if not frames:
        return pd.DataFrame()
    return pd.concat(frames, ignore_index=True)


def _fgb_header_schema(path: str) -> str:
    """Reader DDL from an FGB file's header (column names + ColumnTypes) —
    the pre-r5 schema source, kept for manifests without a stored schema."""
    from . import flatgeobuf

    with open(path, "rb") as fh:
        head = fh.read(16)
        hsize = flatgeobuf._u32(head, 8)
        fh.seek(8)
        hbuf = fh.read(8 + hsize)
    header = flatgeobuf._FBTable(hbuf, 4 + flatgeobuf._u32(hbuf, 4))
    columns = [
        (c.string(0), c.scalar(1, "B", 0)) for c in header.table_vector(7)
    ]
    return ", ".join(
        ["wkt string"]
        + [
            f"`{c}` {flatgeobuf._CT_SPARK_TYPE.get(t, 'string')}"
            for c, t in columns
        ]
    )


def sharded_to_df(
    spark,
    out_dir: str,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Distributed SOURCE over a sharded geo export (any format) — the
    read half of the scale path: shards open in parallel (one task per
    shard, no driver funnel in either direction), and a ``bbox`` window
    query prunes at BOTH levels before any byte of feature data moves:

      1. manifest level — shards whose recorded DATA ENVELOPE doesn't
         intersect the bbox are never opened. The envelope is the shard's
         true extent, not its quadkey tile bounds: quadkeys anchor at the
         bbox midpoint, so a geometry can spill past its home tile and
         tile-bound pruning would drop it. (Pre-envelope manifests fall
         back to tile bounds — their writer's original semantics.)
      2. file level — surviving shards answer the window through their
         own index: FlatGeobuf's packed Hilbert R-tree
         (``fgb_bbox_search``), GeoPackage's ``gpkg_rtree_index``
         extension (``gpkg_bbox_search``); shapefiles filter on the
         per-record bbox headers (the format has no index).

    The Spark schema is the export's recorded schema from manifest.json
    (a function of the export, not of which shards survive pruning — an
    all-pruned window returns an EMPTY frame with the full column set);
    FGB manifests predating the stored schema derive it from the first
    shard's header.
    """
    from ..geo import mercator
    from . import flatgeobuf, gpkg, shapefile

    with open(os.path.join(out_dir, "manifest.json")) as f:
        manifest = json.load(f)
    fmt = manifest["format"]
    out_abs = os.path.abspath(out_dir)
    all_shards = manifest["shards"]
    shards = all_shards
    if bbox is not None:
        w, s, e, n = bbox
        kept = []
        for sh in shards:
            env = sh.get("envelope")
            if env is None or env[0] is None:
                x, y, z = mercator.tile_from_quadkey(sh["cell"])
                env = mercator.tile_bounds(x, y, z)
            if env[0] <= e and env[2] >= w and env[1] <= n and env[3] >= s:
                kept.append(sh)
        shards = kept
    schema = manifest.get("schema")
    if schema is None:
        if fmt != "fgb":
            raise ValueError(
                f"{fmt!r} shard set has no stored schema; re-export it"
            )
        if not all_shards:
            return spark.createDataFrame([], "wkt string")
        schema = _fgb_header_schema(
            os.path.join(out_abs, all_shards[0]["file"])
        )
    if not shards:
        return spark.createDataFrame([], schema)
    files_df = spark.createDataFrame(
        [(os.path.join(out_abs, sh["file"]),) for sh in shards], "path string"
    ).repartition(max(len(shards) // 4, 1))
    # GPKG stores booleans as SQLite INTEGER 0/1 and its readers return
    # ints; Arrow refuses int->bool in mapInPandas, so coerce declared
    # boolean columns back (harmless for formats that already yield bools)
    from pyspark.sql.types import BooleanType, StructType

    bool_cols = [
        f.name
        for f in StructType.fromDDL(schema).fields
        if isinstance(f.dataType, BooleanType)
    ]

    def read_shards(batches):
        for pdf in batches:
            for path in pdf["path"]:
                if fmt == "fgb":
                    out = (
                        flatgeobuf.fgb_bbox_search(path, bbox)
                        if bbox is not None
                        else flatgeobuf.read_fgb(path)
                    )
                elif fmt == "gpkg":
                    out = (
                        gpkg.gpkg_bbox_search(path, bbox)
                        if bbox is not None
                        else gpkg.read_gpkg(path)
                    )
                else:
                    out = shapefile.read_shp(path, bbox=bbox)
                if not len(out):
                    # a fully-filtered shard may come back as a 0-row,
                    # 0-column frame — yielding it would break the
                    # schema-by-name alignment
                    continue
                # nullable pandas dtypes trip the non-Arrow fallback of
                # createDataFrame-like conversion; ship plain objects
                out = out.astype(object).where(out.notna(), None)
                for c in bool_cols:
                    if c in out.columns:
                        out[c] = out[c].map(
                            lambda v: None if v is None else bool(v)
                        )
                yield out

    return files_df.mapInPandas(read_shards, schema)
