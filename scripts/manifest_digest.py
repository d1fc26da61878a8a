"""Snapshot digest of the table layer's write paths.

Runs one maintenance sequence on an unkeyed and on a keyed table built from
the enriched geo corpus:

  write_partitioned (cells_per_commit) -> append -> upsert (in-place
  replacements, a quadkey move, inserts) -> update -> delete -> add_column
  -> compaction at the stored cap -> compaction at an explicit cap

and dumps every snapshot's manifest with the part-file names stripped: per
partition its key values, cell, ``n_rows``, sorted ``file_rows`` and file
count, plus the snapshot's ids, schema and metrics. It ends with a sha256 of
the final table's row set. Run it on two checkouts over the same data and
diff the JSON: equal digests mean the two write the same tables.

Usage: python scripts/manifest_digest.py <sf_dir> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CAP = 400


def _snapshot(m: dict) -> dict:
    return {
        "snapshot_id": m["snapshot_id"],
        "parent_id": m["parent_id"],
        "keys": m.get("keys"),
        "schema": m.get("schema"),
        "metrics": m["metrics"],
        "partitions": [
            {
                "values": p["values"],
                "cell": p["cell"],
                "n_rows": p["n_rows"],
                "n_files": len(p["files"]),
                "file_rows": sorted(p["file_rows"]),
            }
            for p in m["partitions"]
        ],
    }


def _rows_sha256(df) -> str:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)].sort_values("doc_id").reset_index(drop=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


def _sequence(spark, g, root: str, keys: list[str]) -> dict:
    from pyspark.sql import functions as F

    from open_buildings_spark.table import iceberg_lite as tbl

    held = F.pmod(F.hash("doc_id"), F.lit(10)) == 0
    tbl.write_partitioned(
        g.filter(~held), root, max_per_file=CAP, keys=keys, cells_per_commit=8
    )
    tbl.append_rows(g.filter(held), root, batch_id=1)
    cur = tbl.read_table(spark, root)
    # replacements in place, replacements moved to the reversed quadkey
    # (another leaf cell), and brand-new keys
    batch = (
        cur.filter(F.col("doc_id").endswith("3"))
        .withColumn("area_m2", F.col("area_m2") + 1.0)
        .unionByName(
            cur.filter(F.col("doc_id").endswith("7")).withColumn(
                "quadkey", F.reverse("quadkey")
            )
        )
        .unionByName(
            cur.filter(F.col("doc_id").endswith("5")).withColumn(
                "doc_id", F.concat(F.lit("new-"), F.col("doc_id"))
            )
        )
    )
    tbl.upsert_rows(batch, root, key="doc_id")
    tbl.update_rows(
        spark, root, {"area_m2": "area_m2 * 2"}, "doc_id LIKE '%1'"
    )
    tbl.delete_rows(spark, root, "doc_id LIKE '%9'")
    tbl.add_column(root, "note", "string")
    tbl.compact_cells(spark, root)
    tbl.compact_cells(spark, root, max_files=1, max_rows_per_file=CAP // 2)
    last = tbl.current_manifest(root)["snapshot_id"]
    return {
        "snapshots": [
            _snapshot(tbl.manifest_at(root, i)) for i in range(1, last + 1)
        ],
        "rows_sha256": _rows_sha256(tbl.read_table(spark, root)),
    }


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    sf_dir, out_json = sys.argv[1], sys.argv[2]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from open_buildings_spark import datagen
    from open_buildings_spark.operators import enrich

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
    ).select("doc_id", "quadkey", "lon", "lat", "area_m2", "wkt")
    g = g.withColumn(
        "ckey", F.concat(F.lit("0"), F.substring("quadkey", 4, 1))
    ).cache()
    g.count()

    work = tempfile.mkdtemp(prefix="manifest_digest_")
    out: dict[str, dict] = {}
    try:
        out["unkeyed"] = _sequence(
            spark, g.drop("ckey"), os.path.join(work, "t"), []
        )
        out["keyed"] = _sequence(spark, g, os.path.join(work, "k"), ["ckey"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    n = sum(len(v["snapshots"]) for v in out.values())
    print(f"{n} snapshots -> {out_json}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
