"""Iceberg-lite table layer: atomic snapshots, partition pruning, resume."""

import itertools
import os
import sys
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from open_buildings_spark import datagen
from open_buildings_spark.operators import enrich
from open_buildings_spark.table import iceberg_lite as tbl


@pytest.fixture()
def enriched(spark, docs):
    return enrich.add_geo_columns(docs, drop_nongeo=True)


def test_write_read_roundtrip(spark, enriched, tmp_path):
    root = str(tmp_path / "tbl")
    m = tbl.write_partitioned(enriched, root, max_per_file=500)
    assert m["snapshot_id"] == 1
    total = enriched.count()
    back = tbl.read_table(spark, root)
    assert back.count() == total
    # quadkey-sorted within files (clustered write)
    one = tbl.current_manifest(root)["partitions"][0]
    f = os.path.join(root, one["files"][0])
    pdf = spark.read.parquet(f).select("quadkey").toPandas()
    assert (pdf.quadkey.sort_values().values == pdf.quadkey.values).all()


def test_prefix_pruned_read(spark, enriched, tmp_path):
    root = str(tmp_path / "tbl")
    tbl.write_partitioned(enriched, root, max_per_file=500)
    prefix = "30011"  # city 0 area
    full = enriched.filter(F.col("quadkey").startswith(prefix)).count()
    pruned = tbl.read_table(spark, root, quadkey_prefix=prefix)
    got = pruned.filter(F.col("quadkey").startswith(prefix)).count()
    assert got == full
    # and the pruned plan reads strictly fewer files than the table holds
    man = tbl.current_manifest(root)
    nfiles = sum(len(p["files"]) for p in man["partitions"])
    kept = [
        p
        for p in man["partitions"]
        if p["cell"].startswith(prefix) or prefix.startswith(p["cell"])
    ]
    assert 0 < sum(len(p["files"]) for p in kept) < nfiles


def test_resume_recomputes_only_pending(spark, enriched, tmp_path):
    root = str(tmp_path / "tbl")
    # full run for ground truth
    root_full = str(tmp_path / "tbl_full")
    tbl.write_partitioned(enriched, root_full, max_per_file=500)
    truth = tbl.read_table(spark, root_full).count()
    n_cells = len(tbl.current_manifest(root_full)["partitions"])
    assert n_cells > 3

    # killed run: commit every 2 cells, die after the first commit
    with pytest.raises(RuntimeError, match="injected failure"):
        tbl.write_partitioned(
            enriched, root, max_per_file=500, cells_per_commit=2, fail_after_commits=1
        )
    m1 = tbl.current_manifest(root)
    assert len(m1["partitions"]) == 2  # exactly one committed group

    # resume: must only recompute the remaining cells
    m2 = tbl.write_partitioned(enriched, root, max_per_file=500, cells_per_commit=2)
    assert len(m2["partitions"]) == n_cells
    recomputed = m2["metrics"]["recomputed_cells"]
    assert recomputed == n_cells  # 2 in the killed run + the rest resumed
    # lineage: resumed table equals the one-shot table, row for row
    assert tbl.read_table(spark, root).count() == truth
    a = set(r["doc_id"] for r in tbl.read_table(spark, root).select("doc_id").collect())
    b = set(r["doc_id"] for r in tbl.read_table(spark, root_full).select("doc_id").collect())
    assert a == b
    # second resume is a no-op (nothing pending)
    m3 = tbl.write_partitioned(enriched, root, max_per_file=500, cells_per_commit=2)
    assert m3["snapshot_id"] == m2["snapshot_id"]


def test_empty_prune_returns_empty_with_schema(spark, enriched, tmp_path):
    root = str(tmp_path / "tbl")
    tbl.write_partitioned(enriched, root, max_per_file=500)
    out = tbl.read_table(spark, root, quadkey_prefix="999")
    assert out.count() == 0
    assert "quadkey" in out.columns


def test_metrics_exposed(spark, enriched, tmp_path):
    root = str(tmp_path / "tbl")
    tbl.write_partitioned(enriched, root, max_per_file=500)
    m = tbl.metrics(root)
    assert m["rows_written"] == enriched.count()
    assert m["n_partitions"] == len(m["partitions"])
    assert all(v > 0 for v in m["partitions"].values())


def test_overdense_cell_salted_into_multiple_files(spark, enriched, tmp_path):
    """north_rule: dense-city z12 cells beyond max_per_file are sharded by a
    doc-hash salt across writer tasks — multiple bounded files per cell dir
    instead of one oversized straggler file; rows stay quadkey-sorted within
    each file and the read-back is lossless."""
    root = str(tmp_path / "tbl")
    # sf0.001 has no z12 cell over 50 rows — funnel a third of the docs into
    # one synthetic megacity cell (deterministic by doc_id hash)
    dense_df = enriched.withColumn(
        "quadkey",
        F.when(
            F.pmod(F.hash("doc_id"), F.lit(3)) == 0, F.lit("300113001130")
        ).otherwise(F.col("quadkey")),
    )
    m = tbl.write_partitioned(dense_df, root, max_per_file=50)
    dense = [p for p in m["partitions"] if p["n_rows"] > 50]
    assert dense, "fixture should contain at least one over-cap z12 cell"
    total = dense_df.count()
    assert tbl.read_table(spark, root).count() == total
    for p in dense:
        assert len(p["files"]) > 1, p
        for f in p["files"]:
            pdf = spark.read.parquet(os.path.join(root, f)).select("quadkey").toPandas()
            # each shard well under the unsalted cell size, sorted within
            assert len(pdf) < p["n_rows"]
            assert (pdf.quadkey.sort_values().values == pdf.quadkey.values).all()


def test_many_cells_plan_stays_small_and_write_completes(spark, tmp_path):
    """Scale guard: a plan with >=5000 leaf cells must not inflate the
    Catalyst plan (the old per-cell startswith/when chains were O(#cells)
    expressions — fatal at the planet's ~10^5-10^6 leaves). Cell tagging is
    a broadcast hash equi-join now, so the optimized plan stays O(1) in
    plan size, and the full table build completes."""
    import time

    from open_buildings_spark.operators import partition

    n_cells = 5000
    # 5000 distinct z12 quadkeys, one row each; max_per_file=1 makes every
    # shortest-unique prefix a leaf => exactly 5000 leaf cells
    df = (
        spark.range(n_cells)
        .select(
            F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
            F.concat(
                F.lit("30"),
                F.lpad(F.conv(F.col("id").cast("string"), 10, 4), 10, "0"),
            ).alias("quadkey"),
        )
        .cache()
    )
    plan = partition.partition_plan(df, 1)
    assert plan.count() == n_cells
    tagged = partition.tag_cells(df, plan)
    plan_str = tagged._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan_str) < 20_000, (
        f"optimized plan is {len(plan_str)} chars - O(#cells) expression "
        "chain leaked back into the tagging path"
    )
    assert tagged.count() == n_cells

    root = str(tmp_path / "tbl")
    t0 = time.time()
    m = tbl.write_partitioned(df, root, max_per_file=1)
    assert time.time() - t0 < 240
    assert len(m["partitions"]) == n_cells
    assert m["metrics"]["rows_written"] == n_cells
    assert tbl.read_table(spark, root).count() == n_cells


def test_knn_manifest_pruned_matches_full_scan(spark, enriched, tmp_path):
    """kNN with table_root (manifest-pruned per-ring scan) returns exactly
    the full-scan result; and the pruned plan reads fewer files."""
    from open_buildings_spark import oracles
    from open_buildings_spark.operators import knn

    root = str(tmp_path / "tbl")
    tbl.write_partitioned(enriched, root, max_per_file=500)
    full = tbl.read_table(spark, root).select("doc_id", "quadkey", "lon", "lat")
    queries = oracles.knn_queries()[:3]
    a = (
        knn.knn(spark, full, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    b = (
        knn.knn(spark, None, queries, k=5, table_root=root)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert a.equals(b)
    # pruning is real: the ring cells of 3 queries touch fewer partitions
    cells = set()
    for qid, qlon, qlat in queries:
        cells.update(knn._ring_cells(qlon, qlat, 8))
    pruned = tbl.read_table_cells(spark, root, sorted(cells))
    n_pruned = len(pruned.inputFiles())
    n_full = len(tbl.read_table(spark, root).inputFiles())
    assert 0 < n_pruned < n_full


def test_knn_runs_one_job_per_query(spark, enriched, tmp_path):
    """A kNN query whose ring does not grow runs one Spark job over a
    parquet frame (box filter + top-k collect), and its result is a local
    relation: reading it runs none."""
    from open_buildings_spark import oracles
    from open_buildings_spark.operators import knn

    path = str(tmp_path / "docs_pq")
    enriched.select("doc_id", "quadkey", "lon", "lat").write.parquet(path)
    b = spark.read.parquet(path)
    out, jobs = _job_count(spark, lambda: knn.knn(spark, b, oracles.knn_queries()[:1], k=5))
    assert jobs == 1
    rows, jobs = _job_count(spark, lambda: out.select("doc_id").collect())
    assert jobs == 0 and len(rows) == 5


def test_compaction_time_travel_and_expiry(spark, enriched, tmp_path):
    """Compaction commits a NEW snapshot over NEW files: the previous
    snapshot still reads its own (pre-compaction) view, read counts are
    identical at both snapshots, and expire_snapshots reclaims the
    superseded files. Output files respect the row cap (re-shard, never
    one oversized file per dense cell), and a cell already at its
    north_rule shard count is skipped by default."""
    root = str(tmp_path / "tbl")
    # salted overdense cell => several files in one cell dir
    dense_df = enriched.withColumn(
        "quadkey",
        F.when(
            F.pmod(F.hash("doc_id"), F.lit(3)) == 0, F.lit("300113001130")
        ).otherwise(F.col("quadkey")),
    )
    m1 = tbl.write_partitioned(dense_df, root, max_per_file=50)
    total = dense_df.count()
    multi = [p for p in m1["partitions"] if len(p["files"]) > 1]
    assert multi, "need a multi-file cell to compact"
    n_files_before = sum(len(p["files"]) for p in m1["partitions"])

    # default compaction: a properly-sharded salted cell (file count ==
    # its shard count at the stored cap) is SKIPPED (ADVICE: never collapse
    # a deliberately-sharded megacity cell back into one file/task); a cell
    # whose salt shards hash-collided into FEWER, over-cap files is
    # re-sharded (under-sharded condition)
    def needed(p, cap):
        return max(1, -(-p["n_rows"] // cap))

    ok_before = {
        p["cell"]: p["files"]
        for p in m1["partitions"]
        if len(p["files"]) == needed(p, 50)
    }
    _, jobs = _job_count(spark, lambda: tbl.compact_cells(spark, root))
    assert jobs <= 3
    base = tbl.current_manifest(root)
    for p in base["partitions"]:
        if p["cell"] in ok_before:
            assert p["files"] == ok_before[p["cell"]], "sharded cell rewritten"
        assert len(p["files"]) >= needed(p, 50), "under-sharded cell remains"

    # a looser explicit cap re-shards: ceil(n/200) files, each <= 200 rows
    cap = 200
    expect = [
        p
        for p in base["partitions"]
        if len(p["files"]) > max(1, needed(p, cap))
        or len(p["files"]) < needed(p, cap)
    ]
    m2, jobs = _job_count(
        spark,
        lambda: tbl.compact_cells(spark, root, max_files=1, max_rows_per_file=cap),
    )
    assert jobs <= 3  # list the selected files, shuffle, write
    assert m2["snapshot_id"] == base["snapshot_id"] + 1
    assert m2["metrics"]["compacted_cells"] == len(expect)
    for p in m2["partitions"]:
        assert len(p["files"]) == max(1, -(-p["n_rows"] // cap)), p
    assert sum(p["n_rows"] for p in m2["partitions"]) == total
    for p in m2["partitions"]:
        if len(p["files"]) > 1:
            for f in p["files"]:
                n = spark.read.parquet(os.path.join(root, f)).count()
                assert n <= cap
    # current read = compacted; time travel = original; same rows
    assert tbl.read_table(spark, root).count() == total
    old = tbl.read_table(spark, root, snapshot_id=m1["snapshot_id"])
    assert old.count() == total
    assert len(old.inputFiles()) == n_files_before
    # compacted files (the ones m2 adds over base) keep the quadkey clustering
    base_files = {f for p in base["partitions"] for f in p["files"]}
    comp = [f for p in m2["partitions"] for f in p["files"] if f not in base_files]
    assert comp
    for f in comp:
        qk = pq.read_table(os.path.join(root, f), columns=["quadkey"])["quadkey"]
        assert qk.to_pylist() == sorted(qk.to_pylist())

    deleted = tbl.expire_snapshots(root, keep_last=1)
    assert deleted > 0
    assert tbl.read_table(spark, root).count() == total  # current unaffected
    assert tbl.manifest_at(root, m1["snapshot_id"]) is None  # old manifest gone


def test_compaction_noop_and_keyed_guard(spark, enriched, tmp_path):
    root = str(tmp_path / "tbl")
    m1 = tbl.write_partitioned(enriched, root, max_per_file=500)
    if all(len(p["files"]) <= 1 for p in m1["partitions"]):
        m2 = tbl.compact_cells(spark, root)
        assert m2["snapshot_id"] == m1["snapshot_id"]  # no-op, no new snapshot


def test_manifest_stores_anchor_offset_metric(spark, docs, tmp_path):
    """write_partitioned stores max_anchor_offset_m, which serving-path
    kNN reads from the manifest to pad its ring without rescanning."""
    from open_buildings_spark.operators import knn as knn_op

    root = str(tmp_path / "tbl_off")
    g = enrich.add_geo_columns(docs, drop_nongeo=True)
    m = tbl.write_partitioned(g, root, max_per_file=500)
    off = m["metrics"]["max_anchor_offset_m"]
    # conservative bound: positive, bounded by ~1.05x a z12 tile diagonal
    assert 0 < off < 16000
    # persisted, and time-travel/compaction chains carry it forward
    assert tbl.current_manifest(root)["metrics"]["max_anchor_offset_m"] == off


def test_resume_preserves_prior_snapshot_immutability(spark, enriched, tmp_path):
    """A killed build leaves committed snapshot N; resuming appends new
    files and commits N+1 — and time travel to N afterwards still reads
    EXACTLY the pre-kill rows (the old in-place dynamic overwrite orphaned
    snapshot N's view of recomputed cells)."""
    root = str(tmp_path / "tbl")
    with pytest.raises(RuntimeError, match="injected failure"):
        tbl.write_partitioned(
            enriched, root, max_per_file=500, cells_per_commit=2, fail_after_commits=1
        )
    m1 = tbl.current_manifest(root)
    pre_rows = tbl.read_table(spark, root).count()
    pre_ids = {
        r["doc_id"] for r in tbl.read_table(spark, root).select("doc_id").collect()
    }
    assert len(m1["partitions"]) == 2 and pre_rows > 0

    m2 = tbl.write_partitioned(enriched, root, max_per_file=500, cells_per_commit=2)
    assert m2["snapshot_id"] > m1["snapshot_id"]
    assert tbl.read_table(spark, root).count() == enriched.count()
    # the pre-kill snapshot is still fully readable, row for row
    old = tbl.read_table(spark, root, snapshot_id=m1["snapshot_id"])
    assert old.count() == pre_rows
    assert {r["doc_id"] for r in old.select("doc_id").collect()} == pre_ids
    # expiry reclaims any uncommitted-orphan and superseded files safely
    tbl.expire_snapshots(root, keep_last=1)
    assert tbl.read_table(spark, root).count() == enriched.count()


def test_schema_evolution_add_column(spark, enriched, tmp_path):
    """add_column commits a metadata-only snapshot: old files are untouched,
    the current read null-fills the new column, the old snapshot keeps the
    old schema, and the AOI serving path still works on the evolved table."""
    root = str(tmp_path / "tbl")
    m1 = tbl.write_partitioned(enriched, root, max_per_file=500)
    n = enriched.count()
    m2 = tbl.add_column(root, "country_iso", "string")
    assert m2["snapshot_id"] == m1["snapshot_id"] + 1
    cur = tbl.read_table(spark, root)
    assert "country_iso" in cur.columns
    assert cur.count() == n
    assert cur.filter(F.col("country_iso").isNull()).count() == n  # null-filled
    old = tbl.read_table(spark, root, snapshot_id=m1["snapshot_id"])
    assert "country_iso" not in old.columns
    assert old.count() == n
    # same files in both snapshots: metadata-only evolution
    assert m2["partitions"] == m1["partitions"]
    with pytest.raises(ValueError, match="already exists"):
        tbl.add_column(root, "country_iso", "string")
    # evolved table still serves the AOI query (schema-aware manifest scan)
    from open_buildings_spark.geo.mercator import geojson_to_quadkey
    from open_buildings_spark.operators import aoi as aoi_op

    aoi = datagen.city_aoi()
    t = tbl.read_table(spark, root, quadkey_prefix=geojson_to_quadkey(aoi))
    assert aoi_op.aoi_query(t, aoi).count() > 0


def test_upsert_rows_merge_and_immutability(spark, enriched, tmp_path):
    """MERGE by key: updates replace, inserts land, a moved row leaves its
    old cell; only affected cells rewrite; the prior snapshot still reads
    the pre-upsert data."""
    root = str(tmp_path / "tbl")
    m1 = tbl.write_partitioned(enriched, root, max_per_file=500)
    total = enriched.count()
    man1 = tbl.current_manifest(root)
    files_before = {p["cell"]: list(p["files"]) for p in man1["partitions"]}

    rows = tbl.read_table(spark, root).orderBy("doc_id").limit(3).collect()
    cols = rows[0].asDict().keys()
    upd = rows[0].asDict()          # update in place (same quadkey)
    upd["area_m2"] = 123456.0
    moved = rows[1].asDict()        # move to a different z12 cell
    other = next(
        p["cell"] for p in man1["partitions"]
        if not p["cell"].startswith(moved["quadkey"][:4])
    )
    moved["quadkey"] = other + "0" * (12 - len(other))
    ins = rows[2].asDict()          # brand-new key
    ins["doc_id"] = "doc-upsert-new"
    batch = spark.createDataFrame([upd, moved, ins], tbl.read_table(spark, root).schema)

    m2 = tbl.upsert_rows(batch, root, key="doc_id")
    assert m2["snapshot_id"] == m1["snapshot_id"] + 1

    cur = tbl.read_table(spark, root)
    assert cur.count() == total + 1  # one insert, two replacements
    got_upd = cur.filter(F.col("doc_id") == upd["doc_id"]).collect()
    assert len(got_upd) == 1 and got_upd[0]["area_m2"] == 123456.0
    got_mv = cur.filter(F.col("doc_id") == moved["doc_id"]).collect()
    assert len(got_mv) == 1 and got_mv[0]["quadkey"] == moved["quadkey"]
    assert cur.filter(F.col("doc_id") == "doc-upsert-new").count() == 1

    # unaffected cells keep their exact file lists
    man2 = tbl.current_manifest(root)
    touched = {
        c for c in files_before
        if files_before[c] != [
            f for p in man2["partitions"] if p["cell"] == c for f in p["files"]
        ]
    }
    assert 0 < len(touched) < len(files_before)

    # time travel: the pre-upsert snapshot is intact
    old = tbl.read_table(spark, root, snapshot_id=m1["snapshot_id"])
    assert old.count() == total
    assert old.filter(F.col("doc_id") == "doc-upsert-new").count() == 0
    o = old.filter(F.col("doc_id") == upd["doc_id"]).collect()
    assert o[0]["area_m2"] != 123456.0


def test_upsert_guards_and_append_only_cells(spark, enriched, tmp_path):
    """Duplicate-key and un-routable-row batches are refused; pure-insert
    cells keep their existing files (append, not copy-on-write)."""
    root = str(tmp_path / "tbl")
    tbl.write_partitioned(enriched, root, max_per_file=500)
    man1 = tbl.current_manifest(root)
    schema = tbl.read_table(spark, root).schema

    row = tbl.read_table(spark, root).limit(1).collect()[0].asDict()

    dup = spark.createDataFrame([row, row], schema)
    with pytest.raises(ValueError, match="duplicate"):
        tbl.upsert_rows(dup, root, key="doc_id")

    bad = dict(row)
    bad["doc_id"], bad["quadkey"] = "doc-null-qk", None
    with pytest.raises(ValueError, match="un-routable"):
        tbl.upsert_rows(spark.createDataFrame([bad], schema), root, key="doc_id")

    # pure insert into an existing cell: files are appended, never replaced
    tgt = man1["partitions"][0]
    ins = dict(row)
    ins["doc_id"] = "doc-ins-1"
    ins["quadkey"] = tgt["cell"] + "0" * (12 - len(tgt["cell"]))
    m2 = tbl.upsert_rows(spark.createDataFrame([ins], schema), root, key="doc_id")
    p2 = next(p for p in m2["partitions"] if p["cell"] == tgt["cell"])
    assert set(tgt["files"]) <= set(p2["files"])      # old files retained
    assert len(p2["files"]) > len(tgt["files"])       # plus new ones
    assert p2["n_rows"] == tgt["n_rows"] + 1
    assert tbl.read_table(spark, root).count() == enriched.count() + 1


_JOB_GROUPS = itertools.count()


def _job_count(spark, fn):
    """(fn(), number of Spark jobs it ran) — counted from the status
    tracker through a job group."""
    sc = spark.sparkContext
    group = f"job-count-{os.getpid()}-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_append_upsert_job_shape_and_footer_counts(spark, enriched, tmp_path):
    """append_rows and upsert_rows validate, route and count a batch in one
    aggregate and commit from the new files' footers: a handful of Spark
    jobs each, every cell's n_rows equal to its footer rows, and the kNN
    anchor bound after an upsert equal to a rescan of the snapshot."""
    from open_buildings_spark.operators.knn import corpus_anchor_offset_m

    root = str(tmp_path / "tbl")
    tbl.write_partitioned(
        enriched.filter(F.hash("doc_id") % 4 != 0), root, max_per_file=500
    )
    extra = enriched.filter(F.hash("doc_id") % 4 == 0)
    m1, jobs = _job_count(spark, lambda: tbl.append_rows(extra, root, batch_id=1))
    assert jobs <= 6
    cur = tbl.read_table(spark, root)
    # replacements whose centroid moves half a degree off their quadkey's
    # tile (the largest anchor offset in the table afterwards) + inserts
    batch = (
        cur.filter(F.col("doc_id").endswith("3"))
        .withColumn("lon", F.col("lon") + 0.5)
        .unionByName(
            cur.filter(F.col("doc_id").endswith("5")).withColumn(
                "doc_id", F.concat(F.lit("new-"), F.col("doc_id"))
            )
        )
    )
    m2, jobs = _job_count(spark, lambda: tbl.upsert_rows(batch, root, key="doc_id"))
    assert jobs <= 10
    assert tbl.read_table(spark, root).count() == enriched.count() + (
        enriched.filter(F.col("doc_id").endswith("5")).count()
    )
    for m in (m1, m2):
        for p in m["partitions"]:
            frows = [
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for f in p["files"]
            ]
            assert p["file_rows"] == frows and p["n_rows"] == sum(frows)
    files = [os.path.join(root, f) for p in m2["partitions"] for f in p["files"]]
    assert m2["metrics"]["max_anchor_offset_m"] == corpus_anchor_offset_m(
        spark.read.parquet(*files)
    )
    assert m2["metrics"]["max_anchor_offset_m"] > m1["metrics"]["max_anchor_offset_m"]


def test_s2_table_lifecycle(spark, enriched, tmp_path):
    """S2 as a table-layer cell provider (table/s2table.py): adaptive
    write routes on S2 key strings, MERGE re-keys movers, time travel
    reads the pre-merge state, the window read is exact and prefix-pruned,
    and compaction preserves the row set. One engine, two providers."""
    from open_buildings_spark.geo import s2
    from open_buildings_spark.table import s2table as s2t

    root = str(tmp_path / "s2tbl")
    g = enriched.select("doc_id", "lon", "lat")
    m1 = s2t.write_s2_table(g, root, max_per_file=1000, level=12)
    m = tbl.current_manifest(root)
    assert m["metrics"]["cell_provider"] == "s2"
    assert s2t.table_key_level(root) == 12
    cur = tbl.read_table(spark, root)
    n0 = cur.count()
    assert n0 == g.count()
    # every key decodes to a valid cell containing the row's centroid
    row = cur.first()
    cell = s2.key_to_cell(row["quadkey"])
    import numpy as np

    leaf = int(s2.leaf_from_lonlat(np.array([row["lon"]]), np.array([row["lat"]]))[0])
    lo, hi = s2.cell_range(np.array([cell], dtype=np.int64))
    assert int(lo[0]) <= leaf <= int(hi[0])

    # MERGE: move one doc to the antipode (re-keyed), insert one clone
    mover = s2t.add_s2_key(
        cur.limit(1).withColumn("lon", -F.col("lon")), level=12
    )
    ins = s2t.add_s2_key(
        cur.limit(1).withColumn("doc_id", F.concat(F.lit("x-"), "doc_id")),
        level=12,
    )
    tbl.upsert_rows(mover.unionByName(ins.select(*mover.columns)), root, key="doc_id")
    assert tbl.read_table(spark, root).count() == n0 + 1

    # window read: exact vs brute force, current and time-travel
    w, s, e, n = datagen.aoi_bounds(datagen.city_aoi())

    def brute(df):
        return {
            r["doc_id"]
            for r in df.where(
                (F.col("lon") >= w) & (F.col("lon") <= e)
                & (F.col("lat") >= s) & (F.col("lat") <= n)
            ).collect()
        }

    got_now = {
        r["doc_id"]
        for r in s2t.window_read(spark, root, w, s, e, n, cover_level=10).collect()
    }
    assert got_now == brute(tbl.read_table(spark, root))
    # cover deeper than the stored key level must CLAMP, not silently
    # return zero rows (prefixes longer than every key match nothing)
    got_deep = {
        r["doc_id"]
        for r in s2t.window_read(spark, root, w, s, e, n, cover_level=14).collect()
    }
    assert got_deep == got_now
    got_old = {
        r["doc_id"]
        for r in s2t.window_read(
            spark, root, w, s, e, n, cover_level=10,
            snapshot_id=m1["snapshot_id"],
        ).collect()
    }
    assert got_old == brute(tbl.read_table(spark, root, snapshot_id=m1["snapshot_id"]))

    # provider guard: a quadkey table refuses S2 window reads
    qroot = str(tmp_path / "qtbl")
    tbl.write_partitioned(enriched, qroot, max_per_file=1000)
    with pytest.raises(ValueError, match="not an S2 layout"):
        s2t.window_read(spark, qroot, w, s, e, n)

    # compaction keeps the row set
    tbl.compact_cells(spark, root)
    assert tbl.read_table(spark, root).count() == n0 + 1


def test_commit_race_second_writer_raises(spark, enriched, tmp_path, monkeypatch):
    """Two writers build on the same snapshot: the first commit survives
    with its rows, and the second raises CommitConflict instead of silently
    replacing the first's manifest."""
    root = str(tmp_path / "tbl")
    base = tbl.write_partitioned(
        enriched.filter(F.hash("doc_id") % 4 != 0), root, max_per_file=500
    )
    first = tbl.append_rows(enriched.filter(F.hash("doc_id") % 4 == 0), root)
    # the second writer read the table before the first one committed
    monkeypatch.setattr(tbl, "current_manifest", lambda r: base)
    late = enriched.limit(5).withColumn("doc_id", F.concat(F.lit("x-"), "doc_id"))
    with pytest.raises(
        tbl.CommitConflict, match=f"snapshot {first['snapshot_id']} of table {root}"
    ):
        tbl.append_rows(late, root)
    monkeypatch.undo()
    assert tbl.current_manifest(root) == first
    assert tbl.read_table(spark, root).count() == enriched.count()


def test_commit_point_is_the_manifest_not_the_version_hint(spark, enriched, tmp_path):
    """A writer that dies after publishing v{N+1}.json but before moving
    VERSION has committed: readers see v{N+1}, and the next append commits
    v{N+2} instead of colliding with it."""
    root = str(tmp_path / "tbl")
    tbl.write_partitioned(
        enriched.filter(F.hash("doc_id") % 4 != 0), root, max_per_file=500
    )
    m2 = tbl.append_rows(enriched.filter(F.hash("doc_id") % 4 == 0), root)
    with open(os.path.join(root, "metadata", "VERSION"), "w") as f:
        f.write(f"v{m2['snapshot_id'] - 1}.json")  # the stale hint
    assert tbl.current_manifest(root) == m2
    late = enriched.limit(5).withColumn("doc_id", F.concat(F.lit("x-"), "doc_id"))
    m3 = tbl.append_rows(late, root)
    assert m3["snapshot_id"] == m2["snapshot_id"] + 1
    assert tbl.current_manifest(root) == m3
    assert tbl.read_table(spark, root).count() == enriched.count() + 5


def test_commit_stress_exactly_one_writer_wins(tmp_path):
    """More committing threads than cores, all built on the same base: one
    publishes the snapshot, every other one gets CommitConflict, and the
    table reads the winner's manifest."""
    root = str(tmp_path / "tbl")
    base = {"keys": [], "partitions": [], "metrics": {}}
    n = 4 * (os.cpu_count() or 1)
    barrier = threading.Barrier(n, timeout=30)
    won, lost = [], []

    def writer(i):
        m = tbl._next_snapshot(None, root, base, {}, set(), {"writer": i})
        barrier.wait()
        try:
            won.append(tbl._commit_manifest(root, m))
        except tbl.CommitConflict:
            lost.append(i)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(won) == 1 and len(lost) == n - 1
    assert tbl.current_manifest(root) == won[0]
    meta = os.listdir(os.path.join(root, "metadata"))
    assert not [f for f in meta if f.endswith(".tmp")]
