"""The single-file geo writers share one funnel (``operators/funnel.py``):
failures anywhere leave no scratch, tmp file, final file or thread behind,
and ``sharded_export`` writes the same bytes as the single-file writers
because both run the same encode kernel and file assembler."""

import glob
import os
import threading

import numpy as np
import pandas as pd
import pytest

from open_buildings_spark.geo import kernels
from open_buildings_spark.geo.wkt import parse_wkt_batch
from open_buildings_spark.operators import flatgeobuf, funnel, gpkg, shapefile, sharded

WRITERS = {
    "gpkg": (gpkg, gpkg.write_gpkg, [".gpkg"]),
    "fgb": (flatgeobuf, flatgeobuf.write_fgb, [".fgb"]),
    "shp": (shapefile, shapefile.write_shp, [".shp", ".shx", ".dbf"]),
}


def _fail_on_call(fn, k):
    calls = []

    def wrapped(*args, **kwargs):
        calls.append(1)
        if len(calls) == k:
            raise RuntimeError("injected assembly failure")
        return fn(*args, **kwargs)

    return wrapped


def _inject_assembly_fault(fmt, monkeypatch):
    """A driver-side failure while the file is being assembled: GPKG's
    2nd multi-row INSERT, FGB's index build, and the shapefile's 2 GiB
    cap (shrunk to let exactly one encoded batch through)."""
    if fmt == "gpkg":
        monkeypatch.setattr(gpkg, "_bulk_insert", _fail_on_call(gpkg._bulk_insert, 2))
        return RuntimeError, "injected assembly failure"
    if fmt == "fgb":
        monkeypatch.setattr(
            flatgeobuf, "build_index", _fail_on_call(flatgeobuf.build_index, 1)
        )
        return RuntimeError, "injected assembly failure"
    monkeypatch.setattr(shapefile, "SHP_MAX_BYTES", 100 + 25 * 136 + 1000)
    return ValueError, "2 GiB"


def _inject_encode_fault(fmt, monkeypatch):
    """An executor-side failure inside the format's encode kernel (the
    replacement is a test-local function, so it ships to the workers)."""

    def failing(rb, **kwargs):
        raise ValueError("injected encode failure")

    module = WRITERS[fmt][0]
    monkeypatch.setattr(module, "encode", failing)
    return ValueError, "injected encode failure"


def _funnel_threads():
    return [t for t in threading.enumerate() if t.name == funnel.THREAD_NAME]


@pytest.mark.parametrize("where", ["assembly", "encode"])
@pytest.mark.parametrize("fmt", ["gpkg", "fgb", "shp"])
def test_export_failure_leaves_nothing_behind(spark, tmp_path, monkeypatch, fmt, where):
    df = spark.createDataFrame(
        [
            (i, f"POLYGON (({i} 0, {i + 0.5} 0, {i + 0.5} 0.5, {i} 0.5, {i} 0))")
            for i in range(100)
        ],
        "doc_id long, wkt string",
    ).repartition(4)
    inject = _inject_assembly_fault if where == "assembly" else _inject_encode_fault
    exc, match = inject(fmt, monkeypatch)
    _, write, suffixes = WRITERS[fmt]
    path = str(tmp_path / f"out{suffixes[0]}")
    with pytest.raises(exc, match=match):
        write(df, path)
    left = glob.glob(str(tmp_path / "*.parts")) + glob.glob(str(tmp_path / ".*.parts"))
    assert not left, left
    left = glob.glob(str(tmp_path / "*.inprogress")) + glob.glob(
        str(tmp_path / ".*.inprogress")
    )
    assert not left, left
    assert not _funnel_threads()
    for suffix in suffixes:
        assert not os.path.exists(str(tmp_path / f"out{suffix}"))


def test_shp_encode_error_names_column_and_row(spark, tmp_path):
    """A DBF overflow raised by the executor-side kernel reaches the
    caller as a ValueError naming the column and row, not as a wrapped
    Spark task failure."""
    df = spark.createDataFrame([("POINT (1 2)", 1e300)], "wkt string, v double")
    with pytest.raises(ValueError, match=r"column 'v', row 0 of partition \d+: value"):
        shapefile.write_shp(df, str(tmp_path / "y.shp"))
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("fmt", ["gpkg", "fgb", "shp"])
def test_sharded_shard_equals_single_file_bytes(spark, tmp_path, fmt):
    """A frame whose rows all land in one shard: the shard file is
    byte-identical to the single-file writer's output on the same rows in
    the same order (the shard's quadkey order, which the rows are given
    to equal their Hilbert order, the order FGB shards take)."""
    rng = np.random.default_rng(7)
    big = (1 << 53) + 1
    geoms = []
    for i in range(300):
        x, y = rng.uniform(-20, 20), rng.uniform(-20, 20)
        if i % 50 == 7:  # a hole: the scalar encode paths
            wkt = (
                f"POLYGON (({x} {y}, {x + 2} {y}, {x + 2} {y + 2}, {x} {y + 2}, {x} {y}), "
                f"({x + 0.5} {y + 0.5}, {x + 1} {y + 0.5}, {x + 1} {y + 1}, {x + 0.5} {y + 0.5}))"
            )
        elif i % 50 == 9:
            wkt = (
                f"MULTIPOLYGON ((({x} {y}, {x + 1} {y}, {x + 1} {y + 1}, {x} {y})), "
                f"(({x + 3} {y}, {x + 4} {y}, {x + 4} {y + 1}, {x + 3} {y})))"
            )
        else:
            d = rng.uniform(0.001, 0.01)
            wkt = f"POLYGON (({x} {y}, {x + d} {y}, {x + d} {y + d}, {x} {y + d}, {x} {y}))"
        geoms.append(wkt)
    bb = kernels.bboxes(parse_wkt_batch(pd.Series(geoms)))
    order = np.argsort(
        flatgeobuf.hilbert_from_lonlat(
            (bb[:, 0] + bb[:, 2]) / 2, (bb[:, 1] + bb[:, 3]) / 2
        ),
        kind="stable",
    )
    rows = [
        (
            f"d{i}",
            "1" + np.base_repr(rank, 4).zfill(8),
            geoms[i],
            None if i % 11 == 0 else float(i) / 3,
            None if i % 13 == 0 else big + i,
            i % 2 == 0,
        )
        for rank, i in enumerate(order.tolist())
    ]
    rows.append(("nogeom", "1" + "3" * 8, None, 1.0, 1, True))
    df = spark.createDataFrame(
        rows,
        "doc_id string, quadkey string, wkt string, v double, big bigint, flag boolean",
    ).coalesce(1)
    _, write, suffixes = WRITERS[fmt]
    manifest = sharded.sharded_export(df, str(tmp_path / "shards"), fmt=fmt, level=1)
    assert [s["cell"] for s in manifest["shards"]] == ["1"]
    assert manifest["total_rows"] == len(geoms)
    single = tmp_path / "single"
    single.mkdir()
    assert write(df, str(single / f"part-1{suffixes[0]}")) == len(geoms)
    for suffix in suffixes:
        a = (tmp_path / "shards" / f"part-1{suffix}").read_bytes()
        b = (single / f"part-1{suffix}").read_bytes()
        assert a == b, suffix
