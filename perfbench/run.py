"""Benchmark of the open_buildings_spark engine: one workload, one seed.

    python3 perfbench/run.py --cores 4 --workload serve --seed 1 --seconds 20 --trace 0

Run from the repository root. The package is imported from the current
directory; without it the run exits with code 2 before doing anything.
Generated inputs are cached under ``.perfbench/cache``; tables, S2 tables
and exports are rebuilt on every run under ``.perfbench/work``; per-run
reports land in ``.perfbench/out``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See perfbench/README.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

E2E = {
    "setup_s": "s",
    "aoi_p50_rel": "ratio",
    "mix_rel": "ratio",
    "op_p50_geomean_rel": "ratio",
    "cpu_core_rel": "ratio",
    "driver_peak_rss_mb": "MiB",
    "table_bytes_per_doc": "B",
}
RAW = {"calib_s": "s", "aoi_p50_s": "s", "mix_s": "s", "op_p50_geomean_s": "s", "cpu_core_s": "s"}
TRACED = ("setup_s", "aoi_p50_rel", "mix_rel", "cpu_core_rel")
# per-call measures of the layers in the result line; spill bytes are in
# the run report only (no call spills on this corpus, so they read 0)
_SPAN_MEASURES = {
    "wall_ms": "ms", "driver_ms": "ms", "job_ms": "ms", "exec_cpu_ms": "ms",
    "python_ms": "ms", "arrow_to_py_bytes": "B", "shuffle_write_bytes": "B",
}
LAYERS = {
    **{f"spark.{k}": u for k, u in _SPAN_MEASURES.items() if k != "wall_ms"},
    "spark.jobs": "count",
    "spark.jvm_gc_ms": "ms",
    "spark.task_ms_max_over_median": "ratio",
    # an AOI query shuffles nothing
    **{f"aoi.aoi_query.{k}": u for k, u in _SPAN_MEASURES.items() if k != "shuffle_write_bytes"},
    "aoi.aoi_query.rows_scanned_per_hit": "ratio",
    "aoi.aoi_query.python_rows_per_hit": "ratio",
    "iceberg_lite.read_table.wall_ms": "ms",
    "iceberg_lite.read_table.files_per_query": "count",
    **{f"iceberg_lite.write_partitioned.{k}": u for k, u in _SPAN_MEASURES.items()},
    # the traced run's own end-to-end values (tracing overhead) and its
    # timings before division by the calibration job
    **{f"traced.{k}": E2E[k] for k in TRACED},
    **{f"raw.{k}": u for k, u in RAW.items()},
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4, help="Spark local[k]")
    return p.parse_args(argv)


def calibration_job(spark):
    """The run's unit of host speed: a fixed job that runs no package
    code. 400k rows go through the Arrow/Python boundary (a mapInArrow
    square root) and a sum, like the package's own operations do. On this
    host its time tracks contention from other tenants: wall and CPU time
    of the operations moved by up to 30% within an hour, with the same
    code and inputs."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    def sqrt_plus_one(batches):
        for b in batches:
            x = pc.add(b.column(0).cast(pa.float64()), 1.0)
            yield pa.RecordBatch.from_arrays([pc.sqrt(x)], ["x"])

    df = spark.range(0, 400_000, numPartitions=4).mapInArrow(sqrt_plus_one, "x double")
    return lambda: df.agg(F.sum("x")).collect()


def start_spark(cores: int, work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
            # a fixed heap size: the peak RSS then does not depend on when
            # the collector chose to grow the heap
            "-Xms2g"
        ),
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    b = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, close the JVM and wait until every child has exited."""
    import sysstat

    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and len(sysstat.process_tree(os.getpid())) > 1:
        time.sleep(0.2)
    for pid in sysstat.process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in sysstat.process_tree(os.getpid())[1:]:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def layer_metrics(h, e2e: dict, spans, jobs) -> tuple[dict, dict]:
    """(per-layer metrics for the result line, full per-layer report)."""
    import tracing

    table = tracing.layer_table(spans, tracing.span_measures(spans, jobs))
    spark_tot = tracing.op_totals(spans, jobs)

    def ratio(layer, num, den_attr, den_calls=False):
        row = table.get(layer)
        if row is None:
            return None
        den = row["calls"] if den_calls else row["attrs"].get(den_attr, 0)
        n = row[num] * row["calls"] if num in row else row["attrs"].get(num, 0)
        return n / den if den else 0.0

    ratios = {
        "iceberg_lite.read_table.files_per_query": ratio("iceberg_lite.read_table", "files", None, den_calls=True),
        "aoi.aoi_query.rows_scanned_per_hit": ratio("aoi.aoi_query", "scan_rows", "hits"),
        "aoi.aoi_query.python_rows_per_hit": ratio("aoi.aoi_query", "python_rows", "hits"),
        "s2table.window_read.rows_scanned_per_hit": ratio("s2table.window_read", "scan_rows", "hits"),
        "knn.knn.jobs_per_query": ratio("knn.knn", "jobs", None, den_calls=True),
        "spatial_join.aoi_join_big.pairs_per_result": ratio("spatial_join.aoi_join_big", "join_rows_max", "hits"),
        "spatial_join.aoi_join_big.replication_per_aoi": ratio("spatial_join.aoi_join_big", "generate_rows_max", "aois"),
    }
    if "upsert_bytes_rewritten_per_row" in h.info:
        ratios["iceberg_lite.upsert_rows.bytes_rewritten_per_row"] = h.info["upsert_bytes_rewritten_per_row"]
    ratios = {k: v for k, v in ratios.items() if v is not None}

    values = {f"spark.{k}": v for k, v in spark_tot.items()}
    values.update({f"traced.{k}": e2e[k] for k in TRACED})
    values.update({f"raw.{k}": v for k, v in h.raw_metrics().items()})
    values.update(ratios)
    for layer, row in table.items():
        for k in tracing.MEASURES:
            values[f"{layer}.{k}"] = row[k]
        values[f"{layer}.task_ms_max_over_median"] = row["task_ms_max_over_median"]
    report = {"layers": table, "ratios": ratios, "spark": spark_tot}
    missing = [k for k in LAYERS if k not in values]
    if missing:
        raise RuntimeError(f"traced run did not produce {missing}")
    return {k: values[k] for k in LAYERS}, report


def print_layers(table: dict) -> None:
    cols = ("calls", "wall_ms", "driver_ms", "job_ms", "exec_cpu_ms", "python_ms",
            "arrow_to_py_bytes", "shuffle_write_bytes", "spill_bytes", "task_ms_max_over_median")
    print("layer".ljust(36) + "".join(c[:12].rjust(13) for c in cols))
    for name in sorted(table):
        row = table[name]
        print(name[:36].ljust(36) + "".join(f"{row[c]:13.1f}" for c in cols))


def overhead(out_dir: str, workload: str, seed: int, traced: dict) -> dict:
    """Tracing overhead per end-to-end metric (and per raw timing: the
    event log slows the calibration job too) against the latest untraced
    run of the same workload (same seed when there is one)."""
    import glob

    cands = sorted(
        glob.glob(os.path.join(out_dir, f"{workload}-s*-t0.json")),
        key=lambda p: (f"-s{seed}-" in p, os.path.getmtime(p)),
    )
    if not cands:
        return {}
    with open(cands[-1]) as fh:
        d = json.load(fh)
    base = {**d["metrics"], **{f"raw.{k}": v for k, v in d["raw"].items()}}
    return {
        k: 100.0 * (traced[k] - base[k]) / base[k]
        for k in traced
        if k in base and base[k]
    }


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "open_buildings_spark", "__init__.py")):
        print(
            "perfbench: no open_buildings_spark package in the current directory; "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spec, body = workloads.WORKLOADS[args.workload]
    spec = workloads.scaled(spec, args.seconds)

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    try:
        return measure(args, root, base, work, spec, body)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, root: str, base: str, work: str, spec: dict, body) -> int:
    """Set up, run and check one workload; print the result line."""
    import workloads

    out_dir = os.path.join(base, "out")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    for d in (work, out_dir, os.path.join(work, "tmp")) + ((event_dir,) if event_dir else ()):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM that builds spark-submit's command line would
    # otherwise write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)

    import fixtures
    import sysstat
    import tracing

    load0, steal0 = sysstat.loadavg(), sysstat.cpu_times()
    t0 = time.perf_counter()
    spark = start_spark(args.cores, work, event_dir)
    try:
        session_s = time.perf_counter() - t0
        tr = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
        calibration = calibration_job(spark)
        for _ in range(3):  # its first calls are cold; keep them out
            calibration()
        h = workloads.Harness(spark, tr, work, calibration)
        h.setup_parts["session_s"] = session_s
        fx = fixtures.Fixtures(os.path.join(base, "cache"), args.seed, spec)
        t0 = time.perf_counter()
        hit = fx.ensure()
        fixture_s = time.perf_counter() - t0
        body(h, fx, spec)
        h.calibrate()
        e2e = h.metrics(*h.table)
    finally:
        stop_spark(spark)
    load1, steal = sysstat.loadavg(), sysstat.steal_pct(steal0, sysstat.cpu_times())

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": args.cores,
        "fixture_cache_hit": hit,
        "fixture_gen_s": fixture_s,
        "setup_parts": h.setup_parts,
        "samples": h.samples,
        "calib_s": h.calib_s,
        "raw": h.raw_metrics(),
        "info": h.info,
        "failures": h.failures,
        "loadavg_start": load0,
        "loadavg_end": load1,
        "cpu_steal_pct": steal,
    }
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"loadavg {load0} -> {load1} steal {steal:.2f}%")
    for k, v in sorted(h.samples.items()):
        print(f"  {k:12s} n={len(v):3d} median={1000 * sorted(v)[len(v) // 2]:9.1f} ms")
    print("  raw: " + json.dumps({k: round(v, 4) for k, v in detail["raw"].items()}))
    if args.trace:
        tr.dump(os.path.join(out_dir, f"{args.workload}-s{args.seed}-spans.json"))
        jobs = tracing.read_event_log(tracing.find_event_log(event_dir))
        metrics, report = layer_metrics(h, e2e, tr.spans, jobs)
        detail["layers"] = report
        detail["trace_overhead_pct"] = overhead(
            out_dir, args.workload, args.seed,
            {**e2e, **{f"raw.{k}": v for k, v in detail["raw"].items()}},
        )
        print_layers(report["layers"])
        for k, v in sorted(report["ratios"].items()):
            print(f"  {k} = {v:.3f}")
        print("  tracing overhead vs last untraced run (%): "
              + json.dumps({k: round(v, 1) for k, v in detail["trace_overhead_pct"].items()}))
        units = LAYERS
    else:
        metrics, units = e2e, E2E
    detail["metrics"] = e2e
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    for f in h.failures:
        print("  failure: " + f)
    print(json.dumps({
        "correct": not h.failures,
        "attempted": h.attempted,
        "failed": len(h.failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def main(argv=None) -> int:
    return run(_args(argv if argv is not None else sys.argv[1:]))


if __name__ == "__main__":
    sys.exit(main())
