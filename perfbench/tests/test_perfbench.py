"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q

Run from the repository root; the event-log test starts a one-core Spark.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import fixtures  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E
    assert layers == run.LAYERS
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for name in list(e2e) + list(layers):
        assert NAME.fullmatch(name) and len(name) <= 64, name


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_inputs(name):
    spec = workloads.scaled(workloads.WORKLOADS[name][0], workloads.REF_SECONDS)
    a, b = fixtures.make_queries(7, spec), fixtures.make_queries(7, spec)
    assert json.dumps(a) == json.dumps(b)
    assert json.dumps(a) != json.dumps(fixtures.make_queries(8, spec))
    for ka, kb in zip(fixtures.corpus_keys(7), fixtures.corpus_keys(7)):
        assert (ka == kb).all()
    if spec.get("csv"):
        a, b = fixtures.batch_bids(7, spec["rounds"]), fixtures.batch_bids(7, spec["rounds"])
        assert a.keys() == b.keys()
        assert all((a[k][0] == b[k][0]).all() and a[k][1] == b[k][1] for k in a)
        c = fixtures.batch_bids(8, spec["rounds"])
        assert any(len(a[k][0]) != len(c[k][0]) or (a[k][0] != c[k][0]).any() for k in a)
    # the derived buildings are a pure function of the keys
    orders, lok, lln = fixtures.corpus_keys(7)
    assert fixtures.buildings(lok * 8 + lln)["wkt"] == fixtures.buildings(lok * 8 + lln)["wkt"]


def test_operation_counts_do_not_depend_on_the_seed():
    spec = workloads.scaled(workloads.SERVE_SPEC, workloads.REF_SECONDS)
    kinds = [
        [a["kind"] for a in fixtures.make_queries(s, spec)["aois"]] for s in (1, 2, 3)
    ]
    assert kinds[0] == kinds[1] == kinds[2]


def test_reference_within_is_strict_and_convex():
    fp = reference.Footprints(
        ["in", "edge", "out", "multi"],
        [
            "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))",
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
            "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
            "MULTIPOLYGON (((1 1, 2 1, 2 2, 1 2, 1 1)), ((3 3, 4 3, 4 4, 3 4, 3 3)))",
        ],
    )
    square = [[0, 0], [4.5, 0], [4.5, 4.5], [0, 4.5], [0, 0]]
    assert sorted(fp.ids[i] for i in fp.within(square)) == ["in", "multi"]
    # clockwise input is accepted too
    assert sorted(fp.ids[i] for i in fp.within(square[::-1])) == ["in", "multi"]
    assert fp.knn_ok(1.5, 1.5, 1, ["in"])
    assert not fp.knn_ok(1.5, 1.5, 1, ["out"])


def test_event_log_reader_on_a_tiny_job(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        tr = tracing.Tracer(spark.sparkContext, enabled=True)
        with tr.span("op.tiny"):
            with tr.span("layer.udf") as sp:
                rows = (
                    spark.range(5000)
                    .select(plus_one("id").alias("x"))
                    .groupBy((F.col("x") % 3).alias("k"))
                    .count()
                    .collect()
                )
                sp["hits"] = len(rows)
        spark.range(10).count()  # outside every span: attributed to none
    finally:
        spark.stop()

    jobs = tracing.read_event_log(tracing.find_event_log(str(log_dir)))
    spans = tr.spans
    meas = tracing.span_measures(spans, jobs)
    table = tracing.layer_table(spans, meas)
    udf = table["layer.udf"]
    assert udf["calls"] == 1 and udf["jobs"] >= 1
    assert udf["python_ms"] > 0 and udf["arrow_to_py_bytes"] > 0
    assert udf["python_rows"] == 5000
    assert udf["shuffle_write_bytes"] > 0
    assert udf["attrs"]["hits"] == 3
    # driver time + job time account for the span's wall time
    assert udf["driver_ms"] + udf["job_ms"] == pytest.approx(udf["wall_ms"], abs=1e-6)
    # the outer span owns no job; its time is the child's plus its own
    outer = table["op.tiny"]
    assert outer["jobs"] == 0
    assert outer["driver_ms"] == pytest.approx(outer["wall_ms"] - udf["wall_ms"], abs=1e-6)
    owned = {j for js in tracing.attribute(spans, jobs).values() for j in js}
    assert len(owned) < len(jobs)
