"""Byte-identity digest of the geo exports.

Writes the sha256 of every file the single-file writers (``write_gpkg``,
``write_fgb``, ``write_shp``: .shp, .shx and .dbf) produce, and of every
shard file plus ``manifest.json`` that ``sharded_export`` writes at level 6,
for all three formats. Run it on two checkouts over the same data and diff
the JSON: equal digests mean the exports are byte-identical.

The frame is the enriched geo corpus with one column of each attribute
type the writers map: string, double, int, boolean and a nullable bigint
beyond 2^53.

Usage: python scripts/export_digest.py <sf_dir> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    sf_dir, out_json = sys.argv[1], sys.argv[2]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from open_buildings_spark import datagen
    from open_buildings_spark.operators import enrich, flatgeobuf, gpkg, shapefile, sharded

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    g = enrich.add_geo_columns(
        datagen.interleaved_docs(spark, sf_dir), drop_nongeo=True
    ).select(
        "doc_id",
        "quadkey",
        "wkt",
        "area_m2",
        "n_parts",
        (F.col("n_parts") > 1).alias("multi"),
        F.when(F.col("n_parts") > 1, F.xxhash64("doc_id")).alias("big"),
    ).cache()
    g.count()

    work = tempfile.mkdtemp(prefix="export_digest_")
    digests: dict[str, str] = {}
    try:
        writers = {
            "gpkg": (gpkg.write_gpkg, ["single.gpkg"]),
            "fgb": (flatgeobuf.write_fgb, ["single.fgb"]),
            "shp": (shapefile.write_shp, ["single.shp", "single.shx", "single.dbf"]),
        }
        for fmt, (write, files) in writers.items():
            d = os.path.join(work, fmt)
            os.makedirs(d)
            write(g, os.path.join(d, files[0]))
            for name in files:
                digests[f"{fmt}/{name}"] = _sha256(os.path.join(d, name))
        for fmt in ("fgb", "gpkg", "shp"):
            d = os.path.join(work, f"sharded_{fmt}")
            sharded.sharded_export(g, d, fmt=fmt, level=6)
            for name in sorted(os.listdir(d)):
                digests[f"sharded_{fmt}/{name}"] = _sha256(os.path.join(d, name))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    with open(out_json, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    print(f"{len(digests)} files -> {out_json}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
