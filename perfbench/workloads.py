"""The two workloads: ``serve`` (the read path) and ``build`` (the write
path plus the bulk jobs on the table it writes).

Run discipline, shared by both:

- every operation type is warmed up before it is timed and that time
  counts in ``setup_s``: read operations until two consecutive calls
  agree within 15% (at most ``WARM_MAX`` calls), write and bulk
  operations once, on a small scratch table;
- each operation type is timed in its own phase, so heavy and light
  operations never share one sample stream;
- flush policy for exports: before each timed export the previous output
  is deleted and ``os.sync()`` runs, both outside the timer, so dirty
  pages of one sample are never paid by the next (a timed pipeline run
  drops the table it rebuilds inside its timer, as a rebuild does);
- every timed operation's output is checked after its timer stops against
  a reference computed from the same inputs (``reference.py``).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback

import fixtures
import reference as ref
import sysstat

WARM_MAX = 3
SETUP_ROUNDS = 3
TABLE_CAP = 2000  # max rows per table file: ~10 cells at ~20k docs


def snapshot_files(root: str) -> list[str]:
    """Data files the table's current snapshot references."""
    from open_buildings_spark.table import iceberg_lite as tbl

    m = tbl.current_manifest(root)
    return [os.path.join(root, f) for p in m["partitions"] for f in p["files"]]


def table_bytes(root: str) -> int:
    return sum(os.path.getsize(f) for f in snapshot_files(root))


def count_rows(root: str, confidence: float | None = None) -> int:
    """Rows of the current snapshot, read with pyarrow rather than the
    package (only rows with this ``confidence`` when given)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = 0
    for f in snapshot_files(root):
        if confidence is None:
            n += pq.ParquetFile(f).metadata.num_rows
        else:
            col = pq.read_table(f, columns=["confidence"]).column(0)
            n += pc.sum(pc.equal(col, confidence)).as_py() or 0
    return n


def data_files(root: str) -> dict[str, int]:
    out = {}
    for base, _dirs, files in os.walk(os.path.join(root, "data")):
        for f in files:
            p = os.path.join(base, f)
            out[p] = os.path.getsize(p)
    return out


class Harness:
    """Times operations, checks their outputs and keeps the samples."""

    def __init__(self, spark, tracer, work: str, calibration):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.calibration = calibration
        self.calib_s: list[float] = []
        self._phase = None
        self.samples: dict[str, list[float]] = {}
        self.cpu_s = 0.0
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_parts: dict[str, float] = {}
        self.info: dict = {}

    def _fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    def op(self, kind: str, fn, check=None):
        """One timed operation: ``fn()`` runs inside the timer; ``check``
        gets its result after the timer and returns an error text or
        None."""
        self.attempted += 1
        if kind != self._phase:
            self._phase = kind
            self.calibrate()
        cpu0 = sysstat.tree_cpu_s(os.getpid())
        with self.tr.span("op." + kind):
            t0 = time.perf_counter()
            try:
                res = fn()
            except Exception as e:  # an operation that raises counts as failed
                traceback.print_exc(file=sys.stderr)
                self._fail(f"{kind}: {type(e).__name__}: {e}")
                return None
            dt = time.perf_counter() - t0
        self.cpu_s += sysstat.tree_cpu_s(os.getpid()) - cpu0
        self.samples.setdefault(kind, []).append(dt)
        if check is not None:
            err = check(res)
            if err:
                self._fail(f"{kind}: {err}")
        return res

    def calibrate(self) -> None:
        """One timed call of the calibration job (no package code), outside
        every operation's timer; taken at each phase start and at the end,
        so its median is the host's speed while the phases ran."""
        with self.tr.span("calibration"):
            t0 = time.perf_counter()
            self.calibration()
            self.calib_s.append(time.perf_counter() - t0)

    def warm(self, kind: str, fn, max_calls: int = WARM_MAX) -> None:
        """Call ``fn`` until two consecutive calls agree within 15%, at
        most ``max_calls`` times."""
        last = None
        for _ in range(max_calls):
            with self.tr.span("warm." + kind):
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
            if last is not None and abs(dt - last) <= 0.15 * last:
                break
            last = dt

    def read_table(self, root: str, **kw):
        """iceberg_lite.read_table in its own span; a traced run also
        records how many files the scan plans (``DataFrame.inputFiles``)."""
        from open_buildings_spark.table import iceberg_lite as tbl

        with self.tr.span("iceberg_lite.read_table") as rs:
            t = tbl.read_table(self.spark, root, **kw)
        if self.tr.enabled:
            rs["files"] = len(t.inputFiles())
        return t

    def aoi(self, root: str, feature: dict) -> list:
        """read_table + aoi_query + collect: the reference's get_buildings."""
        from open_buildings_spark.geo.mercator import geojson_to_quadkey
        from open_buildings_spark.operators import aoi as aoi_op

        t = self.read_table(root, quadkey_prefix=geojson_to_quadkey(feature))
        with self.tr.span("aoi.aoi_query") as qs:
            rows = aoi_op.aoi_query(t, feature).select("doc_id", "lon", "lat").collect()
        if self.tr.enabled:
            qs["hits"] = len(rows)
        return rows

    def raw_metrics(self) -> dict:
        """Timings as measured: seconds, and core-seconds for the CPU."""
        meds = {k: statistics.median(v) for k, v in self.samples.items()}
        aoi = [x for k in ("aoi_rect", "aoi_poly") for x in self.samples.get(k, [])]
        return {
            "calib_s": statistics.median(self.calib_s),
            "aoi_p50_s": statistics.median(aoi),
            "mix_s": sum(len(self.samples[k]) * m for k, m in meds.items()),
            "op_p50_geomean_s": math.exp(statistics.fmean(math.log(m) for m in meds.values())),
            "cpu_core_s": self.cpu_s,
        }

    def metrics(self, table_root: str, n_rows: int) -> dict:
        """End-to-end metrics; timings in units of the calibration job."""
        raw = self.raw_metrics()
        unit = raw["calib_s"]
        jvm = sysstat.find_jvm(os.getpid())
        rss = sysstat.vm_hwm_mb(os.getpid()) + (sysstat.vm_hwm_mb(jvm) if jvm else 0.0)
        return {
            "setup_s": sum(self.setup_parts.values()),
            "aoi_p50_rel": raw["aoi_p50_s"] / unit,
            "mix_rel": raw["mix_s"] / unit,
            "op_p50_geomean_rel": raw["op_p50_geomean_s"] / unit,
            "cpu_core_rel": raw["cpu_core_s"] / unit,
            "driver_peak_rss_mb": rss,
            "table_bytes_per_doc": table_bytes(table_root) / n_rows,
        }


def _clean(path: str) -> None:
    """Delete a previous output and flush dirty pages (outside any timer)."""
    shutil.rmtree(path, ignore_errors=True)
    os.sync()


# --------------------------------------------------------------------------
# serve
# --------------------------------------------------------------------------

SERVE_SPEC = {
    "docs": True,
    # rects, non-rect convex polygons, empty-ocean boxes; sizes in z12 tiles
    "aois": [7, 7, 2, 1.0, 48.0],
    "knn": 3,
    "windows": 5,
}


def serve(h: Harness, fx, spec: dict) -> None:
    """Set-up builds the enriched table (``SETUP_ROUNDS`` times, median
    kept) and the S2 table; the timed part
    runs AOI queries (rect, non-rect, empty), kNN lookups and S2 window
    reads, each kind in its own phase."""
    from open_buildings_spark.operators import enrich, knn
    from open_buildings_spark.table import iceberg_lite as tbl
    from open_buildings_spark.table import s2table as s2t

    spark, tr = h.spark, h.tr
    root = os.path.join(h.work, "table")
    s2root = os.path.join(h.work, "s2table")
    t0 = time.perf_counter()
    docs = spark.read.parquet(fx.path("docs.parquet"))
    q = fx.queries()
    countries = fixtures.countries()
    h.setup_parts["fixture_load_s"] = time.perf_counter() - t0

    def build_table():
        tbl.drop_table(root)
        with tr.span("enrich.add_geo_columns"):
            g = enrich.add_geo_columns(docs, drop_nongeo=True, keep_bbox=True, countries=countries)
        with tr.span("iceberg_lite.write_partitioned"):
            tbl.write_partitioned(g, root, max_per_file=TABLE_CAP)

    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        with tr.span("setup.round"):
            build_table()
        rounds.append(time.perf_counter() - t0)
    h.setup_parts["build_median_s"] = statistics.median(rounds)
    h.info["setup_rounds_s"] = rounds
    # the S2 table, from the enriched one (built once: it is the smaller
    # artifact, and every round above already paid the cold start)
    t0 = time.perf_counter()
    tbl.drop_table(s2root)
    g2 = h.read_table(root).select("doc_id", "lon", "lat")
    with tr.span("s2table.write_s2_table"):
        s2t.write_s2_table(g2, s2root, max_per_file=TABLE_CAP)
    h.setup_parts["s2_build_s"] = time.perf_counter() - t0

    fp = ref.docs_footprints(fx.path("docs.parquet"))

    def knn_call(pt):
        def run():
            t = h.read_table(root).select("doc_id", "quadkey", "lon", "lat")
            with tr.span("knn.knn"):
                return knn.knn(spark, t, [tuple(pt)], k=5).select("doc_id").collect()
        return run

    def window_call(box):
        def run():
            with tr.span("s2table.window_read") as ws:
                rows = s2t.window_read(spark, s2root, *box, cover_level=10).select("doc_id").collect()
            if tr.enabled:
                ws["hits"] = len(rows)
            return rows
        return run

    t0 = time.perf_counter()
    h.warm("aoi", lambda: h.aoi(root, q["aois"][0]["feature"]))
    h.warm("knn", knn_call(q["knn"][0]), 2)
    h.warm("window", window_call(q["windows"][0]))
    h.setup_parts["warmup_s"] = time.perf_counter() - t0

    def expect_ids(idx):
        ids = [fp.ids[i] for i in idx]
        return len(ids), ref.crc_sum(ids)

    def check_ids(want):
        def check(rows):
            got = (len(rows), ref.crc_sum(r["doc_id"] for r in rows))
            return None if got == want else f"got (rows, checksum) {got}, want {want}"
        return check

    for kind in ("rect", "poly", "empty"):
        for a in (a for a in q["aois"] if a["kind"] == kind):
            ring = a["feature"]["geometry"]["coordinates"][0]
            h.op(
                "aoi_" + kind,
                lambda f=a["feature"]: h.aoi(root, f),
                check_ids(expect_ids(fp.within(ring))),
            )
    for pt in q["knn"]:
        h.op(
            "knn",
            knn_call(pt),
            lambda rows, pt=pt: None
            if fp.knn_ok(pt[1], pt[2], 5, [r["doc_id"] for r in rows])
            else f"kNN set for point {pt} differs from the brute-force ranking",
        )
    for box in q["windows"]:
        h.op("window", window_call(box), check_ids(expect_ids(fp.in_window(*box))))

    h.attempted += 1
    n = count_rows(root)
    if n != len(fp):
        h._fail(f"table rows {n}, want {len(fp)}")
    h.info["table_rows"] = len(fp)
    h.table = (root, len(fp))


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

BUILD_SPEC = {
    "csv": True,
    "pipeline_runs": 2,
    # rounds of (append, upsert), each write followed by AOI probes
    "rounds": 1,
    # probes after the append and after the upsert: most on the more
    # fragmented table, so the median falls inside one table state
    "probes_after": [2, 6],
    # non-rect polygons only (count filled in by scaled), sizes in z12 tiles
    "probes": [0, 0, 2.0, 32.0],
    # join AOIs beside datagen's rects: tiny, megacity, non-rect
    "join_aois": [20, 3, 20],
    "join_runs": 1,
    "export_runs": 1,
}


def _keyed(df):
    """Converted rows -> the table's row shape: geometry as ``wkt`` and a
    stable key derived from it (the Google CSV carries no id)."""
    from pyspark.sql import functions as F

    return df.withColumnRenamed("geometry", "wkt").withColumn(
        "doc_id", F.concat(F.lit("b"), F.xxhash64("wkt").cast("string"))
    )


def build(h: Harness, fx, spec: dict) -> None:
    """Timed: convert -> enrich -> partitioned write (which plans the
    partitions itself),
    then rounds of append and upsert (each followed by non-rect AOI probes
    on the table as it fragments), the big-big spatial join against a
    skewed AOI set, and the three single-file exports."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from open_buildings_spark.operators import (
        convert,
        enrich,
        flatgeobuf,
        gpkg,
        shapefile,
        spatial_join,
    )
    from open_buildings_spark.table import iceberg_lite as tbl

    spark, tr = h.spark, h.tr
    root = os.path.join(h.work, "table")
    warm_root = os.path.join(h.work, "warm_table")
    bdir = os.path.join(h.work, "batches")
    t0 = time.perf_counter()
    q = fx.queries()
    countries = fixtures.countries()
    aois = spark.read.parquet(fx.path("join_aois.parquet"))
    n_aois = pq.ParquetFile(fx.path("join_aois.parquet")).metadata.num_rows
    rounds = spec["rounds"]
    h.setup_parts["fixture_load_s"] = time.perf_counter() - t0

    def pipeline(csv: str, dst: str):
        def run():
            tbl.drop_table(dst)
            with tr.span("convert.convert_google_csv"):
                c = convert.convert_google_csv(spark, csv)
            with tr.span("enrich.add_geo_columns"):
                g = enrich.add_geo_columns(_keyed(c), keep_bbox=True, countries=countries)
            # write_partitioned runs partition.partition_plan itself
            with tr.span("iceberg_lite.write_partitioned"):
                tbl.write_partitioned(g, dst, max_per_file=TABLE_CAP)
        return run

    # set-up rounds: the append/upsert batches, converted and enriched by
    # the code under test (the same path the pipeline takes)
    names = [f"{k}{i}" for i in range(rounds) for k in ("append", "upsert")]

    def prepare_batches():
        for name in names:
            with tr.span("convert.convert_google_csv"):
                c = convert.convert_google_csv(spark, fx.csv(name))
            with tr.span("enrich.add_geo_columns"):
                g = enrich.add_geo_columns(_keyed(c), keep_bbox=True, countries=countries)
            g.write.mode("overwrite").parquet(os.path.join(bdir, name))

    setup_rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        with tr.span("setup.round"):
            prepare_batches()
        setup_rounds.append(time.perf_counter() - t0)
    h.setup_parts["batches_median_s"] = statistics.median(setup_rounds)
    h.info["setup_rounds_s"] = setup_rounds

    def batch(name):
        return spark.read.parquet(os.path.join(bdir, name))

    def append(name, dst):
        def run():
            with tr.span("iceberg_lite.append_rows"):
                tbl.append_rows(batch(name), dst)
        return run

    def upsert(name, dst):
        def run():
            with tr.span("iceberg_lite.upsert_rows"):
                tbl.upsert_rows(batch(name), dst, key="doc_id")
        return run

    def join(dst):
        def run():
            t = h.read_table(dst)
            with tr.span("spatial_join.aoi_join_big") as js:
                out = spatial_join.aoi_join_big(t, aois, cover_level=12)
                key = F.concat_ws(
                    "|",
                    F.col("aoi_id").cast("string"),
                    F.floor(F.col("lon") * 1e6 + 0.5).cast("string"),
                    F.floor(F.col("lat") * 1e6 + 0.5).cast("string"),
                )
                r = out.select(F.count(F.lit(1)), F.sum(F.crc32(key))).collect()[0]
            if tr.enabled:
                js["hits"] = r[0]
                js["aois"] = n_aois
            return r
        return run

    exporters = {
        "gpkg": ("gpkg.write_gpkg", gpkg.write_gpkg, gpkg.read_gpkg, "export.gpkg"),
        "fgb": ("flatgeobuf.write_fgb", flatgeobuf.write_fgb, flatgeobuf.read_fgb, "export.fgb"),
        "shp": ("shapefile.write_shp", shapefile.write_shp, shapefile.read_shp, "export.shp"),
    }

    def export(fmt, dst, out_dir):
        """One export into an emptied, flushed ``out_dir`` (emptied
        outside the timer by the caller)."""
        layer, write, _read, fname = exporters[fmt]

        def run():
            t = h.read_table(dst).select("doc_id", "wkt", "quadkey")
            with tr.span(layer):
                return write(t, os.path.join(out_dir, fname))
        return run

    # warm-up: every operation type once or more, on a small scratch table
    # built from the append batch's CSV (a full-size one warmed the timed
    # pipeline no better and cost 8-10 s more per run)
    t0 = time.perf_counter()
    warm_out = os.path.join(h.work, "warm_out")
    h.warm("build", pipeline(fx.csv(names[0]), warm_root), 1)
    h.warm("append", append(names[0], warm_root), 1)
    h.warm("upsert", upsert(names[1], warm_root), 1)
    h.warm("aoi", lambda: h.aoi(warm_root, q["probes"][0]["feature"]), 2)
    h.warm("join", join(warm_root), 1)
    for fmt in exporters:
        def warm_export(fmt=fmt):
            _clean(warm_out)
            os.makedirs(warm_out)
            export(fmt, warm_root, warm_out)()
        h.warm(fmt, warm_export, 1)
    tbl.drop_table(warm_root)
    shutil.rmtree(warm_out)
    h.setup_parts["warmup_s"] = time.perf_counter() - t0

    # references, from the CSVs alone
    sets = {"main": ref.csv_rows(fx.csv("main"))}
    for name in names:
        sets[name] = ref.csv_rows(fx.csv(name))
    fps = {"main": ref.Footprints([""] * len(sets["main"]), [g for g, _ in sets["main"]], True)}
    live = ["main"]
    expected_rows = ref.parts(sets["main"])

    def check_count(want):
        def check(_res):
            got = count_rows(root)
            return None if got == want else f"table rows {got}, want {want}"
        return check

    for _ in range(spec["pipeline_runs"]):
        h.op("build", pipeline(fx.csv("main"), root), check_count(expected_rows))

    def probe_check(ring):
        idx_sum = [(name, fps[name].within(ring)) for name in live]
        want_n = sum(len(i) for _, i in idx_sum)
        want_c = sum(
            ref.crc(f"{ref.e6(fps[name].cent[i, 0])}|{ref.e6(fps[name].cent[i, 1])}")
            for name, idx in idx_sum
            for i in idx
        )

        def check(rows):
            got_c = ref.crc_sum(f"{ref.e6(r['lon'])}|{ref.e6(r['lat'])}" for r in rows)
            got = (len(rows), got_c)
            return None if got == (want_n, want_c) else f"got (rows, checksum) {got}, want {(want_n, want_c)}"
        return check

    probes = iter(q["probes"])
    bytes_rewritten, upsert_rows = 0, 0
    for i in range(rounds):
        for kind, name in (("append", f"append{i}"), ("upsert", f"upsert{i}")):
            rows = sets[name]
            mk = fixtures.upsert_marker(i)
            new = [r for r in rows if r[1] != mk]
            expected_rows += ref.parts(new)
            before = data_files(root)
            if kind == "append":
                h.op("append", append(name, root), check_count(expected_rows))
            else:
                def check_upsert(res, want=expected_rows, mk=mk, n_old=ref.parts(rows) - ref.parts(new)):
                    err = check_count(want)(res)
                    if err:
                        return err
                    got = count_rows(root, mk)
                    return None if got == n_old else f"rows with marker {mk}: {got}, want {n_old}"
                h.op("upsert", upsert(name, root), check_upsert)
                after = data_files(root)
                bytes_rewritten += sum(v for k, v in after.items() if k not in before)
                upsert_rows += ref.parts(rows)
            fps[name] = ref.Footprints([""] * len(new), [g for g, _ in new], True)
            live.append(name)
            for _ in range(spec["probes_after"][kind == "upsert"]):
                f = next(probes)["feature"]
                h.op("aoi_poly", lambda f=f: h.aoi(root, f), probe_check(f["geometry"]["coordinates"][0]))
    h.info["upsert_bytes_rewritten_per_row"] = bytes_rewritten / max(upsert_rows, 1)

    # big-big join: expected pairs from the footprints of the final table
    at = pq.read_table(fx.path("join_aois.parquet")).to_pylist()
    want_n, want_c = 0, 0
    for a in at:
        ring = ref.parse_rings(a["wkt"])[0]
        for name in live:
            for i in fps[name].within(ring):
                c = fps[name].cent[i]
                want_n += 1
                want_c += ref.crc(f"{a['aoi_id']}|{ref.e6(c[0])}|{ref.e6(c[1])}")
    for _ in range(spec["join_runs"]):
        h.op(
            "join",
            join(root),
            lambda r: None if (r[0], r[1] or 0) == (want_n, want_c)
            else f"join got (pairs, checksum) {(r[0], r[1])}, want {(want_n, want_c)}",
        )
    h.info["join_pairs"] = want_n
    h.info["join_aois"] = len(at)

    # exports: compare the read-back rows with the table's doc ids
    ids = [
        v for f in snapshot_files(root) for v in pq.read_table(f, columns=["doc_id"]).column(0).to_pylist()
    ]
    want_export = (expected_rows, ref.crc_sum(ids))
    out_dir = os.path.join(h.work, "out")
    for fmt, (_layer, _w, read, fname) in exporters.items():
        for _ in range(spec["export_runs"]):
            _clean(out_dir)
            os.makedirs(out_dir)

            def check(_res, read=read, path=os.path.join(out_dir, fname)):
                back = read(path)
                got = (len(back), ref.crc_sum(back["doc_id"]))
                return None if got == want_export else f"read back (rows, checksum) {got}, want {want_export}"
            h.op(fmt + "_export", export(fmt, root, out_dir), check)
    _clean(out_dir)
    h.info["table_rows"] = expected_rows
    h.table = (root, expected_rows)


WORKLOADS = {"serve": (SERVE_SPEC, serve), "build": (BUILD_SPEC, build)}
# the run length the specs' counts are sized for on a 4-core host
REF_SECONDS = 20


def scaled(spec: dict, seconds: int) -> dict:
    """The spec with its operation counts scaled to a run of ``seconds``
    (at least one of each); the same seconds always give the same counts."""
    f = seconds / REF_SECONDS

    def n(v):
        return max(1, round(v * f))

    out = dict(spec)
    if "aois" in spec:
        out["aois"] = [n(v) for v in spec["aois"][:3]] + spec["aois"][3:]
        out["knn"] = n(spec["knn"])
        out["windows"] = n(spec["windows"])
    if "rounds" in spec:
        for k in ("pipeline_runs", "rounds", "join_runs", "export_runs"):
            out[k] = n(spec[k])
        out["probes_after"] = [n(v) for v in spec["probes_after"]]
        out["probes"] = [out["rounds"] * sum(out["probes_after"])] + spec["probes"][1:]
    return out
