"""CLI black-box tests (the reference tests its CLI via subprocess too:
tests/test_open_buildings.py:145-208). The pure-python tool commands run as
subprocesses; Spark-backed commands are covered by the pipeline tests."""

import json
import subprocess
import sys

import pytest

from tests.fixtures import SEYCHELLES_AOI, SEYCHELLES_QUADKEY, SEYCHELLES_WKT


def _run(args: list[str], stdin: str | None = None) -> str:
    out = subprocess.run(
        [sys.executable, "-m", "open_buildings_spark", *args],
        input=stdin,
        capture_output=True,
        text=True,
        cwd="/root/repo",
        check=True,
    )
    return out.stdout


def test_cli_quadkey_stdin_golden():
    got = _run(["quadkey"], stdin=json.dumps(SEYCHELLES_AOI)).strip()
    assert got == SEYCHELLES_QUADKEY


def test_cli_wkt_golden():
    got = _run(["wkt"], stdin=json.dumps(SEYCHELLES_AOI)).strip()
    assert got == SEYCHELLES_WKT


def test_cli_quad2json_golden():
    got = json.loads(_run(["quad2json", "031313131112"]))
    ring = got["geometry"]["coordinates"][0]
    assert abs(ring[0][0] - -0.17578125) < 1e-12
    assert abs(ring[0][1] - 51.50874245880333) < 1e-12


def test_cli_sql_contains_prefix_and_within():
    got = _run(["sql"], stdin=json.dumps(SEYCHELLES_AOI))
    assert f"quadkey LIKE '{SEYCHELLES_QUADKEY}%'" in got
    assert "st_within" in got


def test_cli_sql_only_quadkey():
    got = _run(["sql", "--only-quadkey"], stdin=json.dumps(SEYCHELLES_AOI))
    assert "st_within" not in got


def test_cli_unknown_command_errors():
    r = subprocess.run(
        [sys.executable, "-m", "open_buildings_spark", "nope"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert r.returncode != 0
    assert "invalid choice" in r.stderr


def test_cli_benchmark_matrix(spark, tmp_path, capsys):
    """In-process `benchmark` command (= ob google benchmark, reference
    cli.py:90-162): process x format pivot over the convert pipeline."""
    import os

    from pyspark.sql import functions as F

    from open_buildings_spark import cli, datagen

    csv = str(tmp_path / "google.csv")
    b = datagen.derive_buildings(spark, "/root/testdata/sf0.001").filter(
        F.col("wkt").isNotNull()
    )
    (
        b.limit(200)
        .select(
            F.col("lat").alias("latitude"),
            F.col("lon").alias("longitude"),
            (F.col("r") * F.col("r") * 4).alias("area_in_meters"),
            F.col("conf").alias("confidence"),
            F.col("wkt").alias("geometry"),
            F.lit("XXXXXXXX+XX").alias("full_plus_code"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(csv)
    )
    dst = str(tmp_path / "out")
    cli.main(
        ["benchmark", "--src", csv, "--dst", dst,
         "--formats", "parquet,json", "--output-format", "json"]
    )
    import json as _json

    rows = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {(r["process"], r["format"]) for r in rows} == {
        ("spark", "parquet"), ("spark", "json"),
        ("spark-nosplit", "parquet"), ("spark-nosplit", "json"),
    }
    assert all(r["execution_time"] > 0 for r in rows)
    assert os.path.exists(os.path.join(dst, "spark_parquet"))
    assert os.path.exists(os.path.join(dst, "spark-nosplit_json.json"))


def test_cli_stac(spark, docs, tmp_path, capsys):
    from open_buildings_spark import cli
    from open_buildings_spark.operators import enrich
    from open_buildings_spark.table import iceberg_lite as tbl

    root = str(tmp_path / "tbl")
    tbl.write_partitioned(
        enrich.add_geo_columns(docs, drop_nongeo=True), root, max_per_file=500
    )
    cli.main(["stac", "--table", root])
    out = capsys.readouterr().out
    assert "wrote STAC catalog" in out
    import os

    assert os.path.exists(os.path.join(root, "metadata", "stac", "catalog.json"))


def test_cli_get_buildings_fgb(spark, docs, tmp_path, capsys):
    """`get-buildings --dst x.fgb` writes FlatGeobuf (reference driver map
    download_buildings.py:306-309) and the output re-parses losslessly."""
    import json as _json

    from open_buildings_spark import cli, datagen
    from open_buildings_spark.operators import aoi as aoi_op
    from open_buildings_spark.operators import enrich, flatgeobuf
    from open_buildings_spark.table import iceberg_lite as tbl

    root = str(tmp_path / "tbl")
    tbl.write_partitioned(
        enrich.add_geo_columns(docs, drop_nongeo=True), root, max_per_file=500
    )
    aoi_path = str(tmp_path / "aoi.json")
    with open(aoi_path, "w") as f:
        _json.dump(datagen.city_aoi(), f)
    dst = str(tmp_path / "hits.fgb")
    cli.main(["get-buildings", "--table", root, "--aoi", aoi_path, "--dst", dst])
    out = capsys.readouterr().out
    assert "(fgb)" in out
    expected = aoi_op.aoi_query(
        enrich.add_geo_columns(docs, drop_nongeo=True), datagen.city_aoi()
    ).count()
    back = flatgeobuf.read_fgb(dst)
    assert len(back) == expected > 0
    assert set(back.columns) >= {"wkt", "doc_id", "quadkey"}


def test_cli_delete_compact_export_sharded(spark, docs, tmp_path, capsys):
    """Maintenance + scale-export CLI surface: `delete` removes rows copy-on-
    write, `compact` defragments, `export-sharded` writes one FGB per shard
    with a manifest."""
    import json as _json
    import os

    from open_buildings_spark import cli
    from open_buildings_spark.operators import enrich
    from open_buildings_spark.table import iceberg_lite as tbl

    root = str(tmp_path / "tbl")
    g = enrich.add_geo_columns(docs, drop_nongeo=True)
    tbl.write_partitioned(g, root, max_per_file=500)
    n0 = tbl.read_table(spark, root).count()
    ndel = g.filter(g.doc_id.endswith("9")).count()

    cli.main(["delete", "--table", root, "--where", "doc_id LIKE '%9'"])
    out = capsys.readouterr().out
    assert f"{ndel} rows deleted" in out
    assert tbl.read_table(spark, root).count() == n0 - ndel

    cli.main(["compact", "--table", root])
    assert "compacted" in capsys.readouterr().out

    dst = str(tmp_path / "shards")
    cli.main(["export-sharded", "--table", root, "--dst", dst, "--level", "6"])
    out = capsys.readouterr().out
    assert "shards" in out
    manifest = _json.load(open(os.path.join(dst, "manifest.json")))
    assert manifest["total_rows"] == n0 - ndel


def test_cli_window_query(spark, docs, tmp_path, capsys):
    """`window` answers a bbox query over a sharded export (manifest
    envelope prune + per-shard index walk) and can land parquet."""
    import os

    from open_buildings_spark import cli, datagen
    from open_buildings_spark.operators import enrich, sharded

    g = enrich.add_geo_columns(docs, drop_nongeo=True).select(
        "doc_id", "quadkey", "wkt"
    )
    src = str(tmp_path / "winshards")
    sharded.sharded_export(g, src, fmt="fgb", level=6)
    w, s, e, n = datagen.aoi_bounds(datagen.city_aoi())
    cli.main(["window", "--src", src, "--bbox", f"{w},{s},{e},{n}"])
    out = capsys.readouterr().out
    n_feat = int(out.split()[0])
    assert n_feat > 0
    dst = str(tmp_path / "winout")
    cli.main(["window", "--src", src, "--bbox", f"{w},{s},{e},{n}", "--dst", dst])
    assert os.path.exists(dst)
    assert spark.read.parquet(dst).count() == n_feat
    # an inverted window must fail loudly, not silently return 0 features
    import pytest

    with pytest.raises(SystemExit, match="w,s,e,n"):
        cli.main(["window", "--src", src, "--bbox", f"{e},{s},{w},{n}"])
    with pytest.raises(SystemExit, match="w,s,e,n"):
        cli.main(["window", "--src", src, "--bbox", f"{w},{n},{e},{s}"])
    with pytest.raises(SystemExit, match="4 comma"):
        cli.main(["window", "--src", src, "--bbox", f"{w},{s},{e}"])


def test_cli_s2_layout_and_window(spark, tmp_path, capsys):
    import pandas as pd

    from open_buildings_spark import cli

    src = str(tmp_path / "docs")
    pd_df = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c"],
            "lon": [12.5, 50.0, 12.6],
            "lat": [41.9, 10.0, 41.95],
        }
    )
    spark.createDataFrame(pd_df).write.parquet(src)
    layout = str(tmp_path / "s2")
    cli.main(["s2-layout", "--src", src, "--dst", layout, "--files", "2"])
    assert "3 rows in 2 S2-ordered files" in capsys.readouterr().out
    cli.main(["s2-window", "--src", layout, "--bbox", "12,41,13,42"])
    assert "2 rows with centroid in" in capsys.readouterr().out
    out = str(tmp_path / "hits")
    cli.main(["s2-window", "--src", layout, "--bbox", "12,41,13,42", "--dst", out])
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == ["a", "c"]


def test_cli_s2_window_bad_bbox_errors(tmp_path):
    import pytest as _pytest

    from open_buildings_spark import cli

    with _pytest.raises(SystemExit, match="order is w,s,e,n"):
        cli.main(["s2-window", "--src", str(tmp_path), "--bbox", "13,41,12,42"])


def test_cli_mixture_int_strata(spark, tmp_path, capsys):
    """``ob mixture`` on an INT strata column: the string --weights keys are
    coerced to the column's native values before the draw (they used to
    reach mixture_sample as strings and fail in the quota frame)."""
    from open_buildings_spark import cli

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.createDataFrame(
        [(f"d{i}", 1 if i < 60 else 2) for i in range(100)],
        "doc_id string, source int",
    ).write.parquet(src)
    cli.main(["mixture", "--src", src, "--dst", dst, "--weights", "1=0.5,2=0.5"])
    assert "mixture of 80 rows" in capsys.readouterr().out
    got = spark.read.parquet(dst).groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in got} == {1: 40, 2: 40}
    with pytest.raises(SystemExit, match="no rows"):
        cli.main(["mixture", "--src", src, "--dst", dst, "--weights", "3=1.0"])
