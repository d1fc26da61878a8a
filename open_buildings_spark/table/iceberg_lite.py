"""Iceberg-style table layer: parquet data files + JSON manifest metadata.

No Iceberg jar exists in this sandbox, so the engine implements the subset of
Iceberg semantics the north_rule needs, over plain ``spark.read/write.parquet``:

- **snapshots**: ``metadata/v{N}.json`` manifests, each listing data files
  with per-file partition values, row counts and quadkey bounds;
- **no-clobber commit**: every write builds its snapshot with
  :func:`_next_snapshot` and publishes it with :func:`_commit_manifest`,
  which creates ``v{N}.json`` only if no other writer has (a hard link of a
  fully written temp file); the publish is the commit point, and a writer
  that lost the race gets :class:`CommitConflict`, never a silently
  replaced snapshot. ``VERSION`` is only a hint readers step forward from;
- **one cell writer**: every data file is written by
  :func:`_write_cells_salted` — Spark's partitioned parquet writer into
  hive ``<k>=<v>/cell=<c>`` directories, quadkey-sorted within files;
- **partition pruning**: readers plan the file list from the manifest
  (quadkey-prefix and key-equality predicates) before Spark ever lists
  a directory — the reference gets this from hive partitioning + quadkey
  file clustering (open_buildings/settings.py:26-35, overture/partition.py);
- **resume**: per-partition lineage (cell -> files, row counts) means a
  killed build job recomputes only uncommitted cells — the reference's
  skip-if-exists file gates (overture/partition.py:146-147,172-174)
  expressed as manifest state (P10).

Determinism: manifests carry a monotone snapshot counter, no wall-clock.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    _parse_datatype_string,
)

from ..session import local_frame


def _meta_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _version_file(root: str) -> str:
    return os.path.join(_meta_dir(root), "VERSION")


class CommitConflict(RuntimeError):
    """Another writer committed the snapshot this write was built on top
    of; re-read the table and redo the write."""


def _manifest_path(root: str, snapshot_id: int) -> str:
    return os.path.join(_meta_dir(root), f"v{snapshot_id}.json")


def current_manifest(root: str) -> dict | None:
    """The newest committed snapshot: the ``VERSION`` hint, stepped forward
    while a later manifest exists — a writer can die between publishing its
    manifest (the commit) and moving the hint. A hint whose manifest was
    expired falls back to the newest one on disk."""
    try:
        with open(_version_file(root)) as f:
            sid = int(f.read().strip()[1 : -len(".json")])
    except FileNotFoundError:
        sid = 0
    if not os.path.exists(_manifest_path(root, sid)):
        sid = max(
            (
                int(os.path.basename(p)[1 : -len(".json")])
                for p in glob.glob(os.path.join(_meta_dir(root), "v*.json"))
            ),
            default=0,
        )
    while os.path.exists(_manifest_path(root, sid + 1)):
        sid += 1
    return manifest_at(root, sid)


def _commit_manifest(root: str, manifest: dict) -> dict:
    """Publish a snapshot without overwriting: the manifest is written to a
    writer-unique temp file and hard-linked to ``v{N}.json``, which fails if
    another writer already committed snapshot N (raises
    :class:`CommitConflict`; the loser's data files stay unreferenced until
    :func:`expire_snapshots`). Then the ``VERSION`` hint moves; readers
    step past a lagging one (:func:`current_manifest`). Returns the
    committed manifest."""
    meta = _meta_dir(root)
    os.makedirs(meta, exist_ok=True)
    sid = manifest["snapshot_id"]
    tmp = os.path.join(meta, f".v{sid}.json.{uuid.uuid4().hex}.tmp")
    with open(tmp, "x") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    try:
        os.link(tmp, _manifest_path(root, sid))
    except FileExistsError:
        raise CommitConflict(
            f"snapshot {sid} of table {root} was already committed by "
            "another writer"
        ) from None
    finally:
        os.remove(tmp)
    vtmp = f"{_version_file(root)}.{uuid.uuid4().hex}.tmp"
    with open(vtmp, "x") as f:
        f.write(f"v{sid}.json")
    os.replace(vtmp, _version_file(root))
    return manifest


def committed_cells(root: str, keys: list[str] | None = None) -> set:
    m = current_manifest(root)
    if m is None:
        return set()
    keys = keys or []
    out = set()
    for part in m["partitions"]:
        out.add(tuple(part["values"].get(k) for k in keys) + (part["cell"],))
    return out


def _manifest_keys(m: dict) -> list[str]:
    """Partition key columns of a table, in hive-directory order. Stored
    explicitly since r4 (``m['keys']``); older manifests fall back to the
    insertion-ordered ``values`` dict of any keyed partition."""
    if "keys" in m:
        return m["keys"]
    for p in m["partitions"]:
        if p["values"]:
            return list(p["values"].keys())
    return []


def _part_dir(data_dir: str, keys: list[str], values: dict, cell: str) -> str:
    """Hive directory of one partition: data/<k>=<v>/.../cell=<c>."""
    d = data_dir
    for k in keys:
        d = os.path.join(d, f"{k}={values[k]}")
    return os.path.join(d, f"cell={cell}")


def _part_key(part: dict, keys: list[str]) -> tuple:
    return tuple(part["values"].get(k) for k in keys) + (part["cell"],)


def _rows_per_file(
    paths: list[str], spark: SparkSession | None = None
) -> list[int]:
    """Exact per-file row counts from the parquet footers, stored in the
    manifest as ``file_rows`` so compaction can find individual over-cap
    files — the per-cell aggregate can't see 999+1 skew. Metadata-only
    reads: small commits read at the driver; above a threshold (a planet
    build's final commit can reference 10^5+ files) the footer reads fan
    out as one Spark job."""
    import pyarrow.parquet as pq

    if spark is not None and len(paths) > 256:
        def read_meta(it):
            import pandas as pd

            for pdf in it:
                yield pd.DataFrame(
                    {
                        "path": pdf["path"],
                        "n": [
                            pq.ParquetFile(p).metadata.num_rows
                            for p in pdf["path"]
                        ],
                    }
                )

        pdf = (
            spark.createDataFrame([(p,) for p in paths], "path string")
            .repartition(min(len(paths) // 64 + 1, 64))
            .mapInPandas(read_meta, "path string, n long")
            .toPandas()
        )
        by_path = dict(zip(pdf["path"], pdf["n"]))
        return [int(by_path[p]) for p in paths]
    return [pq.ParquetFile(p).metadata.num_rows for p in paths]


def _keyed_reader(spark: SparkSession, m: dict, keys: list[str], root: str):
    """Reader for a table's files that recovers the hive-directory values
    verbatim — the key columns (if any) and ``cell`` — from an explicit
    schema with them as strings plus ``basePath`` (inference would coerce
    '0300' to the integer 300). Table reads ``.drop('cell')``."""
    if not m.get("schema"):
        raise ValueError(f"table at {root} has no stored schema; rewrite it")
    fields = [
        f for f in _schema_struct(m).fields if f.name not in keys
    ] + [StructField(k, StringType(), True) for k in keys] + [
        StructField("cell", StringType(), True)
    ]
    return spark.read.schema(StructType(fields)).option(
        "basePath", os.path.join(root, "data")
    )


def _check_key_types(df: DataFrame, keys: list[str]) -> None:
    """Partition key columns must be STRING-typed: the hive layout stores
    key values as directory-name text and :func:`_keyed_reader` recovers
    them as strings verbatim, so a non-string key column would silently
    change type on read and then type-clash (or coerce) when a later
    merge unions recovered survivors with a batch. Refuse up front."""
    bad = [
        f"{f.name} ({f.dataType.simpleString()})"
        for f in df.schema.fields
        if f.name in keys and f.dataType.simpleString() != "string"
    ]
    if bad:
        raise ValueError(
            "partition key columns must be string-typed (hive directory "
            f"values read back as strings): cast {', '.join(bad)} to "
            "string first"
        )


def write_partitioned(
    df: DataFrame,
    root: str,
    max_per_file: int,
    keys: list[str] | None = None,
    cells_per_commit: int = 0,
    fail_after_commits: int = -1,
    store_anchor_offset: bool = True,
    extra_metrics: dict | None = None,
) -> dict:
    """Adaptive-cell partitioned write with manifest commits.

    1. plan leaf cells (one-pass histogram, reference split semantics),
    2. skip cells already committed (resume),
    3. tag rows with their leaf cell and write them with the one cell
       writer (:func:`_write_cells_salted`): one parquet directory per
       cell, quadkey-sorted within files (the reference's ORDER BY quadkey
       clustered write), over-cap cells salted across writer tasks,
    4. commit the manifest atomically every ``cells_per_commit`` cells
       (0 = single commit at the end).

    ``fail_after_commits`` >= 0 raises after that many commits — the
    kill/resume test hook. ``extra_metrics`` merges into the FINAL
    commit's metrics only (never intermediate group commits), so a caller
    can stamp bookkeeping — e.g. the streaming bootstrap's
    ``last_append_batch_id`` — atomically with the data becoming visible.
    Returns the final manifest.
    """
    from ..operators.partition import partition_plan, tag_cells

    keys = keys or []
    if keys:
        _check_key_types(df, keys)
    plan = partition_plan(df, max_per_file, keys).collect()
    done = committed_cells(root, keys)
    pending = [
        r
        for r in plan
        if (tuple(r[k] for k in keys) + (r["cell"],)) not in done
    ]
    m = current_manifest(root)
    if m is None:
        m = {
            "keys": keys,
            "partitions": [],
            "metrics": {"rows_written": 0, "recomputed_cells": 0},
        }
    elif _manifest_keys(m) != keys:
        raise ValueError(
            f"table at {root} is partitioned by {_manifest_keys(m)}, "
            f"not {keys}"
        )

    if not pending:
        return m

    groups: list[list] = (
        [pending]
        if cells_per_commit <= 0
        else [
            pending[i : i + cells_per_commit]
            for i in range(0, len(pending), cells_per_commit)
        ]
    )
    data_dir = os.path.join(root, "data")
    os.makedirs(data_dir, exist_ok=True)
    commits = 0
    # per-snapshot schema (data files only: partition key columns and the
    # cell live in directory names) — the schema-evolution anchor
    m = {
        **m,
        "keys": keys,
        "schema": [f.jsonValue() for f in df.schema.fields if f.name not in keys],
    }
    spark = df.sparkSession
    plan_schema = _plan_schema(keys)
    for group in groups:
        counts = {
            tuple(r[k] for k in keys) + (r["cell"],): r["n_rows"] for r in group
        }
        # Tag rows with their leaf cell via a broadcast hash equi-join on
        # quadkey-prefix = cell (tag_cells). The inner join doubles as the
        # pending-cells filter: rows of already-committed cells match no
        # plan entry and drop out. Plan size stays out of codegen — the
        # previous per-cell startswith/when chains were O(#cells) Catalyst
        # expressions, fatal at planet scale (~10^5-10^6 leaves).
        sub = tag_cells(df, local_frame(spark, list(counts), plan_schema), keys)
        # snapshot immutability: files are only ever ADDED (append mode +
        # job-unique part names); the manifest's per-cell file list is the
        # diff of the cell dir across the job, so files from an earlier
        # KILLED (uncommitted) attempt are never referenced — they sit
        # orphaned until expire_snapshots reclaims them, and every older
        # snapshot keeps reading exactly the files it committed.
        pre_files = _list_cells(data_dir, keys, counts)
        _write_cells_salted(sub, counts, max_per_file, data_dir, keys)
        is_final_group = group is groups[-1]
        m = _next_snapshot(
            spark,
            root,
            m,
            pre_files,
            rewrite=set(),
            metrics={
                **m["metrics"],
                "rows_written": m["metrics"]["rows_written"]
                + sum(counts.values()),
                "recomputed_cells": m["metrics"]["recomputed_cells"] + len(group),
                "max_per_file": max_per_file,
                # final commit only: a partially-committed build must not
                # carry caller bookkeeping that marks it complete
                **(extra_metrics if is_final_group and extra_metrics else {}),
            },
        )
        if is_final_group and store_anchor_offset:
            data_cols = set(df.columns) - set(keys) - {"cell"}
            files = [
                os.path.join(root, f) for p in m["partitions"] for f in p["files"]
            ]
            if {"quadkey", "lon", "lat"} <= data_cols and files:
                # kNN exactness metric (corpus_anchor_offset_m): one
                # column-pruned scan of the written files, FOLDED INTO the
                # final commit's manifest (committing it after would mutate
                # an already-committed snapshot in place, and a crash
                # between the two commits would leave a complete table
                # permanently missing the metric)
                from ..operators.knn import corpus_anchor_offset_m

                m["metrics"]["max_anchor_offset_m"] = corpus_anchor_offset_m(
                    spark.read.parquet(*files)
                )
        _commit_manifest(root, m)
        commits += 1
        if fail_after_commits >= 0 and commits >= fail_after_commits:
            raise RuntimeError(f"injected failure after {commits} commits")
    return m


def _table_cap(m: dict, max_per_file: int | None) -> int | None:
    """Per-file row cap of a rewrite: the caller's, else the table's."""
    if max_per_file is not None:
        return max_per_file
    return m["metrics"].get("max_per_file")


def _list_cells(data_dir: str, keys: list[str], cks) -> dict[tuple, set]:
    """{(key values..., cell): set of parquet files in its directory}."""
    return {
        ck: set(
            glob.glob(
                os.path.join(
                    _part_dir(data_dir, keys, dict(zip(keys, ck)), ck[-1]),
                    "*.parquet",
                )
            )
        )
        for ck in cks
    }


def _next_snapshot(
    spark: SparkSession | None,
    root: str,
    m: dict,
    pre_files: dict[tuple, set],
    rewrite: set,
    metrics: dict,
    anchor: float | None = None,
) -> dict:
    """The snapshot after a write into the cells of ``pre_files`` (each
    touched (key values..., cell) -> the files its directory held before
    the write) — the one snapshot builder: every commit's manifest, and its
    ``snapshot_id``/``parent_id``, comes from here (a metadata-only change
    such as :func:`add_column` touches no cell and needs no ``spark``).

    The files each cell gained are listed once and their footers read in
    one batched pass (a Spark job past :func:`_rows_per_file`'s threshold,
    never per-cell serial reads), so ``n_rows`` and ``file_rows`` of every
    touched cell come from the footers — no recount of the written data.
    Cells in ``rewrite`` are copy-on-write: their new files REPLACE the
    prior ones (a cell left without rows drops out); other cells keep their
    files and gain the new ones (a pre-r4 manifest's missing ``file_rows``
    are backfilled from the footers, bounded by the touched cells).
    ``anchor`` — the written rows' max anchor offset from the caller's own
    aggregate — keeps the kNN exactness bound ``max_anchor_offset_m``
    current where the table tracks it, with no second scan of the new
    files. Partitions come back sorted by (key values, cell)."""
    keys = _manifest_keys(m)
    data_dir = os.path.join(root, "data")
    prior = {_part_key(p, keys): p for p in m["partitions"]}
    post = _list_cells(data_dir, keys, pre_files)
    new = {ck: sorted(post[ck] - pre_files[ck]) for ck in pre_files}
    backfill = {
        ck: [os.path.join(root, f) for f in prior[ck]["files"]]
        for ck in new
        if ck in prior and ck not in rewrite and prior[ck].get("file_rows") is None
    }
    flat = [p for fl in new.values() for p in fl]
    flat += [p for fl in backfill.values() for p in fl]
    it = iter(_rows_per_file(flat, spark))
    new_rows = {ck: [next(it) for _ in fl] for ck, fl in new.items()}
    bf_rows = {ck: [next(it) for _ in fl] for ck, fl in backfill.items()}
    parts = [p for ck, p in prior.items() if ck not in new]
    for ck, files in new.items():
        if ck in prior and ck not in rewrite:
            part = dict(prior[ck])
            part["file_rows"] = bf_rows.get(ck, part.get("file_rows"))
        else:
            part = {"cell": ck[-1], "values": dict(zip(keys, ck))}
            part["files"], part["file_rows"] = [], []
        part["files"] = part["files"] + [os.path.relpath(f, root) for f in files]
        part["file_rows"] = part["file_rows"] + new_rows[ck]
        part["n_rows"] = sum(part["file_rows"])
        if part["files"]:
            parts.append(part)
    parts.sort(key=lambda p: _part_key(p, keys))
    metrics = dict(metrics)
    tracked = m["metrics"].get("max_anchor_offset_m")
    if anchor is not None and tracked is not None and any(new.values()):
        metrics["max_anchor_offset_m"] = max(tracked, anchor)
    base = m.get("snapshot_id", 0)  # 0: the table has no snapshot yet
    return {
        **{k: v for k, v in m.items() if k in ("schema", "keys")},
        "snapshot_id": base + 1,
        "parent_id": base,
        "partitions": parts,
        "metrics": metrics,
    }


def _check_batch(df: DataFrame, m: dict, keys: list[str], what: str) -> None:
    """A write batch may carry only the table's columns and must carry its
    partition key columns, string-typed."""
    if m.get("schema"):
        allowed = {f["name"] for f in m["schema"]} | set(keys)
        extra = set(df.columns) - allowed
        if extra:
            raise ValueError(
                f"{what} columns {sorted(extra)} not in table schema; "
                f"add_column first"
            )
    missing = set(keys) - set(df.columns)
    if missing:
        raise ValueError(
            f"{what} batch missing partition key columns {sorted(missing)}"
        )
    if keys:
        _check_key_types(df, keys)


def _route_batch(df: DataFrame, m: dict, merge_key: str | None = None) -> dict:
    """Validate, route and count a write batch with ONE native aggregate,
    grouped by (partition keys, z12 quadkey): row counts, the max anchor
    offset (:func:`..operators.knn.anchor_offset_expr`, only when the table
    tracks ``max_anchor_offset_m``) and, for a MERGE, the batch's
    ``merge_key`` values.

    The driver routes each group to its manifest leaf by longest prefix —
    leaves are prefix-disjoint per key group, so at most one matches — and
    a group outside every leaf (new geography, or a never-seen key value)
    opens its z12 quadkey as a new leaf; z12 cells are never proper
    prefixes of leaves, so the leaves stay prefix-disjoint. Rows are tagged
    with their cell by a broadcast equi-join on that (keys, z12) -> cell
    table, whose size is the batch's group count, never the table's.

    Returns ``tagged`` (the batch plus ``cell``), ``counts`` per
    (key values..., cell), ``unroutable`` (rows with a NULL quadkey or
    partition key, which the inner tagging join would drop), ``anchor``,
    and for a MERGE ``keys`` (non-NULL key values) and ``duplicates``."""
    from ..operators.partition import MAX_LEVEL

    keys = _manifest_keys(m)
    aggs = [F.count("*").alias("_n")]
    track = "max_anchor_offset_m" in m["metrics"]
    if track:
        from ..operators.knn import anchor_offset_expr

        aggs.append(F.max(anchor_offset_expr(df.columns)).alias("_off"))
    if merge_key:
        aggs += [
            F.collect_list(merge_key).alias("_keys"),
            F.count(merge_key).alias("_nk"),
        ]
    qk12 = F.substring("quadkey", 1, MAX_LEVEL)
    groups = df.groupBy(*keys, qk12.alias("_qk12")).agg(*aggs).collect()
    leaves: dict[tuple, set] = {}
    for p in m["partitions"]:
        leaves.setdefault(_part_key(p, keys)[:-1], set()).add(p["cell"])
    route, counts, unroutable = [], {}, 0
    for g in groups:
        kv, qk = tuple(g[k] for k in keys), g["_qk12"]
        if qk is None or None in kv:
            unroutable += g["_n"]
            continue
        cells = leaves.get(kv, set())
        cell = next(
            (qk[:n] for n in range(len(qk), 0, -1) if qk[:n] in cells), qk
        )
        route.append((*kv, qk, cell))
        counts[(*kv, cell)] = counts.get((*kv, cell), 0) + g["_n"]
    route_df = F.broadcast(
        local_frame(df.sparkSession, route, _plan_schema([*keys, "_qk12"]))
    )
    out = {
        "tagged": df.withColumn("_qk12", qk12)
        .join(route_df, [*keys, "_qk12"])
        .drop("_qk12"),
        "counts": counts,
        "unroutable": unroutable,
        "anchor": (
            max((g["_off"] or 0.0 for g in groups), default=0.0) if track else None
        ),
    }
    if merge_key:
        batch_keys = [k for g in groups for k in g["_keys"]]
        n_null = sum(g["_n"] - g["_nk"] for g in groups)
        out["keys"] = batch_keys
        out["duplicates"] = len(set(batch_keys)) < len(batch_keys) or n_null > 1
    return out


def append_rows(
    df: DataFrame,
    root: str,
    batch_id: int | None = None,
    max_per_file: int | None = None,
) -> dict:
    """Append NEW rows to an existing table as a new snapshot —
    the streaming-ingest write path (:mod:`..streaming.geo.ingest_to_table`
    calls this from ``foreachBatch``). ``write_partitioned`` is a *build*
    primitive: it skips already-committed cells entirely (resume), silently
    dropping late rows that land in them; appends instead ROUTE every row:

    - rows covered by an existing leaf cell append files to that cell
      (longest-prefix routing on the driver from the manifest);
    - rows outside every existing leaf (new geography) open their z12
      quadkey as a new leaf cell (see :func:`_route_batch`).

    Keyed (hive ``country_iso=XX``-style) tables route per key group: the
    batch must carry the partition key columns, and (key values, cell)
    addresses the directory ``data/<k>=<v>/cell=<c>/`` — the reference's
    primary archive layout (overture/partition.py:168-170). A key value
    never seen before simply opens its own z12 leaves.

    Every batch row MUST route: rows whose quadkey is NULL (or whose key
    columns are NULL) would silently vanish through the inner routing
    join, so they are counted in the routing aggregate and any raises
    (mirrors ``upsert_rows``'s guard).

    Snapshot immutability holds: files are only ever ADDED (job-unique part
    names, pre/post directory diff per touched cell), the manifest diff is
    per-cell ``files`` + ``n_rows``, and older snapshots keep reading
    exactly their own files. Fragmentation from many micro-batches is
    reclaimed by :func:`compact_cells`.

    ``batch_id`` makes replays idempotent (exactly-once for a single
    streaming writer): if ``batch_id <= metrics['last_append_batch_id']``
    the micro-batch already committed — a crashed run whose checkpoint
    lagged its table commit re-delivers the batch and this no-ops. A
    mid-append crash leaves only unreferenced files (expire_snapshots
    reclaims them) and the replay re-appends cleanly.

    Scale shape: one aggregate over the batch validates it, routes it and
    counts it (collected at one row per (keys, z12) group); the write is
    one salted shuffle; the commit reads the new files' footers (no second
    scan: ``n_rows``, ``file_rows`` and the anchor-offset bound come from
    the footers and the aggregate). 5 Spark jobs per call, plus one when a
    cell is over the row cap, whatever the table's cell count.
    """
    m = current_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    keys = _manifest_keys(m)
    last = m["metrics"].get("last_append_batch_id")
    if batch_id is not None and last is not None and batch_id <= last:
        return m  # replayed micro-batch: already committed
    _check_batch(df, m, keys, "append")
    r = _route_batch(df, m)
    counts = r["counts"]
    if r["unroutable"]:
        raise ValueError(
            f"{r['unroutable']} append rows have a NULL "
            "or un-routable quadkey or partition key; refusing (the "
            "inner routing join would silently drop them)"
        )
    if not counts:
        if batch_id is None:
            return m
        return _commit_manifest(
            root,
            _next_snapshot(
                df.sparkSession, root, m, {}, set(),
                {**m["metrics"], "last_append_batch_id": batch_id},
            ),
        )
    data_dir = os.path.join(root, "data")
    pre_files = _list_cells(data_dir, keys, counts)
    _write_cells_salted(
        r["tagged"], counts, _table_cap(m, max_per_file), data_dir, keys
    )
    metrics = {
        **m["metrics"],
        "rows_written": m["metrics"]["rows_written"] + sum(counts.values()),
        # a manual append (batch_id=None) must NOT reset the streaming
        # replay watermark — clobbering it to null would let a crashed
        # stream re-deliver its last batch past the exactly-once guard
        "last_append_batch_id": batch_id if batch_id is not None else last,
        "appended_batches": m["metrics"].get("appended_batches", 0) + 1,
    }
    return _commit_manifest(
        root,
        _next_snapshot(
            df.sparkSession, root, m, pre_files, set(), metrics, r["anchor"]
        ),
    )


def _plan_schema(keys: list[str], extra: str = "") -> str:
    return (
        ", ".join(f"{k} string" for k in keys) + (", " if keys else "")
    ) + "cell string" + extra


def _write_cells_salted(
    df: DataFrame,
    counts: dict | None,
    cap: int | None,
    data_dir: str,
    keys: list[str] | None = None,
) -> None:
    """The one cell writer: append rows tagged with ``cell`` into hive
    ``<k>=<v>/cell=<c>`` directories through Spark's partitioned parquet
    writer, quadkey-sorted within each file (the reference's ORDER BY
    quadkey clustered write, overture/partition.py:149,182). Files are only
    ever ADDED: append mode (a dynamic-partition overwrite would delete the
    files older snapshots reference) and job-unique part names.

    ``counts`` — rows per (key values..., cell) — salts every cell over the
    per-file row ``cap`` (north_rule): a z12 cell denser than the cap cannot
    split spatially any further, so its rows shard across ceil(n/cap)
    writer tasks by ``pmod(hash(doc_id), ceil(n/cap))``, bounding both the
    task size (no straggler writes a megacity alone) and the expected file
    size; other cells get salt 0 and one task each. Rows must carry
    ``doc_id``. Without ``counts`` (compaction, which rewrites whole cells)
    nothing is salted: each cell is written by ONE task that rolls a new
    file every ``cap`` rows, so it comes out as exactly ceil(n/cap) files.

    Tasks: max(spark.sql.shuffle.partitions, ceil(rows/cap)) through an
    explicit ``repartition(n, ...)``, which AQE never coalesces (it would
    merge the salt shards right back into one oversized task)."""
    keys = keys or []
    spark = df.sparkSession
    roll = bool(cap) and counts is None
    counts = counts or {}
    over = [(*ck, -(-n // cap)) for ck, n in counts.items() if cap and n > cap]
    if over:
        shards = F.broadcast(
            local_frame(spark, over, _plan_schema(keys, ", _shards int"))
        )
        salt = F.when(
            F.col("_shards").isNotNull(),
            F.pmod(F.hash(F.col("doc_id")), F.col("_shards")),
        ).otherwise(F.lit(0))
        df = (
            df.join(shards, [*keys, "cell"], "left")
            .withColumn("_salt", salt)
            .drop("_shards")
        )
    else:
        df = df.withColumn("_salt", F.lit(0))
    n_writers = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        -(-sum(counts.values()) // cap) if cap else 0,
    )
    writer = (
        df.repartition(n_writers, F.col("cell"), F.col("_salt"), *map(F.col, keys))
        .drop("_salt")
        # sorting by (partition cols, quadkey) gives the dynamic-partition
        # writer its required grouping (it would otherwise inject its own
        # quadkey-destroying sort) and the quadkey clustering in one sort
        .sortWithinPartitions(*keys, "cell", "quadkey")
        .write.mode("append")
        .option("compression", "snappy")
    )
    if roll:
        writer = writer.option("maxRecordsPerFile", cap)
    writer.partitionBy(*keys, "cell").parquet(data_dir)


def _read_partitions(
    spark: SparkSession, root: str, m: dict, parts: list[dict]
) -> DataFrame:
    """Scan of exactly the given manifest partitions' files, with the
    partition key columns and ``cell`` recovered from the hive directory
    names (:func:`_keyed_reader`) — the rows come back tagged with their
    leaf cell, no re-routing."""
    files = [os.path.join(root, f) for p in parts for f in p["files"]]
    return _keyed_reader(spark, m, _manifest_keys(m), root).parquet(*files)


def _in_cells(df: DataFrame, keys: list[str], cks) -> DataFrame:
    """Rows of ``df`` (a :func:`_read_partitions` scan) in the given
    (key values..., cell) partitions. The filter reads only directory
    columns, so Spark applies it by pruning the file list the scan listed
    when ``df`` was created — no second listing, no row scan outside."""
    names = [*keys, "cell"]
    return df.filter(
        F.struct(*names).isin(
            [F.struct(*[F.lit(v).alias(n) for n, v in zip(names, ck)]) for ck in cks]
        )
    )


def upsert_rows(
    df: DataFrame,
    root: str,
    key: str = "doc_id",
    max_per_file: int | None = None,
) -> dict:
    """MERGE by key: rows of ``df`` REPLACE existing rows with the same
    ``key`` and new keys insert — Iceberg-style copy-on-write at cell
    granularity, in one new snapshot; older snapshots keep reading their
    original files (reclaim superseded ones with :func:`expire_snapshots`).

    Cells split two ways: REWRITE cells hold an old version of an upserted
    key (their survivors are re-read via a manifest-pruned scan of just
    those cells, anti-joined on the key set, and rewritten together with
    the new rows as NEW files); APPEND-ONLY cells merely receive brand-new
    keys and keep their existing files, gaining the new ones — no
    copy-on-write amplification for pure inserts.

    Keyed (hive) tables merge the same way: (partition key values, cell)
    addresses the directory, and a row whose key value CHANGES (a doc
    moving country) is found in its old partition, deleted there, and
    written under its new one — the full scan that locates old versions is
    key-agnostic.

    Guards (a MERGE must never corrupt the key invariant silently): the
    batch may not contain duplicate keys, and every batch row must route to
    a cell (a NULL/empty quadkey would otherwise delete the old version
    while the replacement vanishes).

    Scale shape: one aggregate over the batch validates it (duplicates,
    unroutable rows), routes it and collects its key set, which is small
    relative to the table and broadcasts; finding old versions is one
    column-pruned scan of the table with a broadcast semi-join that
    returns each replaced row's cell from its file's hive directory (at
    10^12 rows the dominant cost); the rewrite reads only the rewrite
    cells' files, pruned from the same listed scan. Survivor counts are
    the manifest's ``n_rows`` minus the replaced rows, and the commit takes
    ``n_rows``/``file_rows`` from the new files' footers — nothing is
    recounted. 8 Spark jobs per call, plus one when a cell is over the row
    cap and one to list a table of more than 32 files.
    """
    m = current_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    part_keys = _manifest_keys(m)
    _check_batch(df, m, part_keys, "upsert")
    spark = df.sparkSession
    r = _route_batch(df, m, merge_key=key)
    if r["duplicates"]:
        raise ValueError(
            f"upsert batch contains duplicate {key} values; a MERGE "
            "source must be key-unique"
        )
    if r["unroutable"]:
        raise ValueError(
            f"{r['unroutable']} upsert rows have a "
            "NULL or un-routable quadkey or partition key; refusing "
            "(the old versions would be deleted with no replacement "
            "written)"
        )
    new_counts = r["counts"]
    key_schema = StructType([StructField(key, df.schema[key].dataType)])
    keys_df = F.broadcast(local_frame(spark, [(k,) for k in r["keys"]], key_schema))
    # old versions can live under ANY partition (a row may change its
    # partition key value — e.g. a doc moving country), so one
    # column-pruned scan of the whole table, semi-joined to the broadcast
    # key set, collects the (key values, cell) directory of each replaced
    # row's file: one row per batch key in a key-unique table
    replaced: dict[tuple, int] = {}
    if r["keys"] and m["partitions"]:
        table = _read_partitions(spark, root, m, m["partitions"])
        for row in (
            table.select(key, *part_keys, "cell")
            .join(keys_df, key, "left_semi")
            .drop(key)
            .collect()
        ):
            replaced[tuple(row)] = replaced.get(tuple(row), 0) + 1
    if not (replaced or new_counts):
        return m
    by_ck = {_part_key(p, part_keys): p for p in m["partitions"]}
    counts = dict(new_counts)
    for ck, n in replaced.items():
        counts[ck] = counts.get(ck, 0) + by_ck[ck]["n_rows"] - n
    merged = r["tagged"]
    if replaced:
        survivors = _in_cells(table, part_keys, replaced).join(
            keys_df, key, "left_anti"
        )
        merged = survivors.unionByName(merged.select(*survivors.columns))
    data_dir = os.path.join(root, "data")
    pre_files = _list_cells(data_dir, part_keys, counts)
    _write_cells_salted(
        merged,
        {ck: n for ck, n in counts.items() if n},
        _table_cap(m, max_per_file),
        data_dir,
        part_keys,
    )
    metrics = {
        **m["metrics"],
        "upserted_batches": m["metrics"].get("upserted_batches", 0) + 1,
        "rows_upserted": m["metrics"].get("rows_upserted", 0)
        + sum(new_counts.values()),
    }
    # replacement geometry can raise the corpus anchor offset; survivors
    # were already inside the stored bound
    return _commit_manifest(
        root,
        _next_snapshot(spark, root, m, pre_files, set(replaced), metrics, r["anchor"]),
    )


def update_rows(
    spark: SparkSession,
    root: str,
    assignments: dict,
    predicate=None,
    key: str = "doc_id",
    max_per_file: int | None = None,
) -> dict:
    """``UPDATE table SET col = expr [WHERE pred]`` — the reference's
    in-place column compute (P9, overture/add_columns.py:40-47
    ``UPDATE buildings SET quadkey = …``) as a copy-on-write snapshot.

    Implemented as a MERGE of the updated rows (:func:`upsert_rows`):
    an assignment may change ``quadkey`` (the reference's own use case),
    which MOVES the row to a different leaf cell — the merge path already
    routes rows, rewrites the cells that lose them, and keeps older
    snapshots time-traveling. ``assignments`` maps column name -> SQL
    expression string (or Column); ``predicate`` (SQL string or Column,
    None = all rows) selects the rows to update. The table needs a unique
    ``key`` column. Returns the new manifest (or the current one when
    nothing matches)."""
    if current_manifest(root) is None:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    if key.lower() in {c.lower() for c in assignments}:
        # rewriting the merge key would make the MERGE see only the NEW
        # values: old rows never match, survive untouched, and the updated
        # rows insert as duplicates — refuse (case-insensitively: Spark's
        # default resolver would bind 'DOC_ID' to doc_id)
        raise ValueError(
            f"UPDATE may not assign the merge key column {key!r} "
            "(old rows could not be matched for replacement)"
        )
    cur = read_table(spark, root)
    if predicate is not None:
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        cur = cur.filter(F.coalesce(pred, F.lit(False)))
    for cname, e in assignments.items():
        cur = cur.withColumn(cname, F.expr(e) if isinstance(e, str) else e)
    # an empty match set routes no rows and returns the current manifest
    return upsert_rows(cur, root, key=key, max_per_file=max_per_file)


def delete_rows(
    spark: SparkSession,
    root: str,
    predicate,
    max_per_file: int | None = None,
) -> dict:
    """``DELETE FROM table WHERE predicate`` — the reference's in-place
    row delete (google/process.py:149 ``DELETE FROM buildings WHERE
    confidence < …``) as an Iceberg-style copy-on-write operation: cells
    holding matching rows are rewritten WITHOUT them as new files and a new
    snapshot swaps in; every older snapshot still time-travels to the
    pre-delete state (reclaim superseded files with
    :func:`expire_snapshots`). The takedown / contamination-purge
    primitive a 10^12-doc corpus needs.

    ``predicate``: SQL string or Column; rows where it is TRUE are removed
    (NULL keeps the row — SQL DELETE semantics). Works on keyed tables.

    Scale shape: finding affected partitions is one manifest-planned scan
    with the predicate pushed into it, counted per (key values, cell)
    hive directory (at planet scale the dominant, bounded cost); the
    rewrite then re-reads ONLY the affected partitions' files, pruned from
    the same listed scan. Survivor counts are the manifest's ``n_rows``
    minus the deleted rows. Partitions left empty drop out of the
    manifest.
    """
    m = current_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    keys = _manifest_keys(m)
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = F.coalesce(pred, F.lit(False))
    if not m["partitions"]:
        return m
    table = _read_partitions(spark, root, m, m["partitions"])
    deleted = {
        tuple(r[:-1]): r["count"]
        for r in table.filter(hit).groupBy(*keys, "cell").count().collect()
    }
    if not deleted:
        return m
    by_ck = {_part_key(p, keys): p for p in m["partitions"]}
    counts = {
        ck: by_ck[ck]["n_rows"] - n
        for ck, n in deleted.items()
        if by_ck[ck]["n_rows"] > n
    }
    data_dir = os.path.join(root, "data")
    pre_files = _list_cells(data_dir, keys, deleted)
    if counts:
        survivors = _in_cells(table, keys, deleted).filter(~hit)
        _write_cells_salted(
            survivors, counts, _table_cap(m, max_per_file), data_dir, keys
        )
    metrics = {
        **m["metrics"],
        # the stored kNN bound (max_anchor_offset_m) stays: deletion
        # can only shrink the true offset, so it remains a valid upper
        # bound for exactness
        "rows_deleted": m["metrics"].get("rows_deleted", 0)
        + sum(deleted.values()),
        "deleted_batches": m["metrics"].get("deleted_batches", 0) + 1,
    }
    return _commit_manifest(
        root, _next_snapshot(spark, root, m, pre_files, set(deleted), metrics)
    )


def manifest_at(root: str, snapshot_id: int) -> dict | None:
    """Load a specific snapshot's manifest (time travel)."""
    path = os.path.join(_meta_dir(root), f"v{snapshot_id}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def read_table(
    spark: SparkSession,
    root: str,
    quadkey_prefix=None,
    snapshot_id: int | None = None,
    **key_filters: str,
) -> DataFrame:
    """Manifest-planned scan with partition pruning.

    ``quadkey_prefix``: keep partitions whose cell overlaps the prefix
    (cell startswith prefix OR prefix startswith cell); a LIST of
    prefixes keeps partitions overlapping ANY of them (a window's cell
    cover — e.g. table/s2table.py window_read — prunes in one plan pass
    instead of one read per cover cell). Key equality filters prune on
    manifest partition values. Returns an empty DataFrame with no files
    when everything prunes away.

    ``snapshot_id``: time travel — plan from that snapshot's manifest
    instead of the current one. Snapshots are fully immutable: every write
    path (commit-group appends, resumed recomputes, compactions, schema
    changes) only ADDS files and commits a new manifest, so any retained
    snapshot reads exactly the bytes it committed (reclaim superseded
    files with :func:`expire_snapshots`).

    Reads plan with the SNAPSHOT's schema (schema evolution): files
    written before a column was added are null-filled for it by the
    parquet reader, and columns added after the snapshot don't leak in.
    """
    m = manifest_at(root, snapshot_id) if snapshot_id is not None else current_manifest(root)
    if m is None:
        raise FileNotFoundError(
            f"no committed snapshot at {root}"
            + (f" (snapshot {snapshot_id})" if snapshot_id is not None else "")
        )
    prefixes = (
        [quadkey_prefix]
        if isinstance(quadkey_prefix, str)
        else list(quadkey_prefix or [])
    )
    files: list[str] = []
    for part in m["partitions"]:
        if prefixes:
            cell = part["cell"]
            if not any(
                cell.startswith(p) or p.startswith(cell) for p in prefixes
            ):
                continue
        if any(part["values"].get(k) != v for k, v in key_filters.items()):
            continue
        files.extend(os.path.join(root, f) for f in part["files"])
    return _scan(spark, root, m, files)


def _scan(spark: SparkSession, root: str, m: dict, files: list[str]) -> DataFrame:
    """Scan of a snapshot's planned ``files`` with the snapshot's schema.
    Keyed tables recover their key values from the directory names
    (:func:`_keyed_reader`, never inference). An empty plan reads zero rows
    of the whole table, so the schema survives."""
    keys = _manifest_keys(m)
    if keys:
        reader = _keyed_reader(spark, m, keys, root)
    else:
        reader = spark.read
        if m.get("schema"):
            reader = reader.schema(_schema_struct(m))
    if files:
        df = reader.parquet(*files)
    else:
        allf = [os.path.join(root, f) for p in m["partitions"] for f in p["files"]]
        df = reader.parquet(*allf).limit(0)
    return df.drop("cell") if keys else df


def _schema_struct(manifest: dict):
    return StructType.fromJson({"type": "struct", "fields": manifest["schema"]})


def add_column(root: str, name: str, dtype: str) -> dict:
    """Schema evolution: ADD COLUMN as a metadata-only snapshot (reference:
    ``ALTER TABLE ... ADD COLUMN``, overture/add_columns.py:37,55). No data
    file is touched — the new snapshot carries the widened schema and the
    same file list; readers null-fill the column for pre-existing files.
    Older snapshots keep their own schema (time travel shows the table as
    it was). Backfill happens naturally as cells are rewritten (compaction)
    or via a new table build; there is no in-place UPDATE by design."""
    m = current_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    if "schema" not in m:
        raise ValueError(
            f"table at {root} predates schema tracking; rewrite it first"
        )
    if any(f["name"] == name for f in m["schema"]):
        raise ValueError(f"column {name!r} already exists")
    field = StructField(name, _parse_datatype_string(dtype), True)
    widened = {**m, "schema": m["schema"] + [field.jsonValue()]}
    return _commit_manifest(
        root, _next_snapshot(None, root, widened, {}, set(), m["metrics"])
    )


def read_table_cells(
    spark: SparkSession, root: str, cells: list[str]
) -> DataFrame:
    """Manifest-planned scan pruned to partitions overlapping ANY of the
    given z-cells (cell list from e.g. a kNN ring). A partition matches iff
    its leaf cell is a prefix of a requested cell or vice versa; matching is
    a set lookup over all prefixes of the requested cells, so planning is
    O(#cells x 12 + #partitions) — never a scan."""
    m = current_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    want = {c[:k] for c in cells for k in range(1, len(c) + 1)}
    want.add("")
    cellset = set(cells)
    files: list[str] = []
    for part in m["partitions"]:
        pc = part["cell"]
        # leaf above or at a requested cell, or leaf below one (deeper leaf
        # whose prefix is a requested cell)
        if pc in want or any(pc[:k] in cellset for k in range(1, len(pc) + 1)):
            files.extend(os.path.join(root, f) for f in part["files"])
    return _scan(spark, root, m, files)


def metrics(root: str) -> dict:
    """Per-partition lineage + row-count metrics from the current snapshot."""
    m = current_manifest(root)
    if m is None:
        return {}
    keys = _manifest_keys(m)
    return {
        "snapshot_id": m["snapshot_id"],
        "n_partitions": len(m["partitions"]),
        "rows_written": m["metrics"]["rows_written"],
        "recomputed_cells": m["metrics"]["recomputed_cells"],
        "partitions": {
            # keyed partitions address by their hive path (the bare cell
            # string would collide across key values)
            (
                "/".join(
                    [f"{k}={p['values'][k]}" for k in keys]
                    + [f"cell={p['cell']}"]
                )
                if keys
                else p["cell"]
            ): p["n_rows"]
            for p in m["partitions"]
        },
    }


def compact_cells(
    spark: SparkSession,
    root: str,
    max_files: int = 1,
    max_rows_per_file: int | None = None,
) -> dict:
    """Small-file compaction: rewrite fragmented cells into quadkey-sorted
    files, committed as a NEW snapshot referencing NEW files (old files are
    untouched, so prior snapshots keep reading their own view — Iceberg
    rewrite semantics; reclaim space later with :func:`expire_snapshots`).

    Output files respect the table's north_rule row cap: by default the
    writer's ``max_per_file`` (stored in the manifest) re-shards compaction
    output at that many rows per file, so an over-dense salted cell is
    NEVER collapsed back into one oversized file — a cell whose file count
    already equals its required shard count is skipped entirely.
    ``max_rows_per_file`` overrides the cap (None + no stored cap = one
    file per cell).

    Scale shape: the selected cells are read with their key values and
    ``cell`` from the hive directories and rewritten by the one cell writer
    (:func:`_write_cells_salted`) unsalted — one task per cell, rolling a
    new file every ``cap`` rows, so each cell comes out as exactly
    ceil(n/cap) quadkey-sorted files; the commit is :func:`_next_snapshot`
    over the rewritten cells. Before it commits, every rewritten cell's
    footer row count must equal its prior ``n_rows``. Streaming ingests
    that append many micro-batch files per cell are the intended caller.
    Keyed tables compact the same way — key columns are written back as
    directories, never as data columns.

    Selection is per FILE where the manifest records ``file_rows``: a cell
    whose file count looks right but holds one skewed over-cap file (e.g.
    999+1 rows at cap 500) is still selected and re-sharded.
    """
    m = current_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    keys = _manifest_keys(m)
    cap = _table_cap(m, max_rows_per_file)

    def needed(p) -> int:
        return 1 if not cap else -(-p["n_rows"] // cap)

    def overcap_file(p) -> bool:
        fr = p.get("file_rows")
        return bool(cap) and fr is not None and any(x > cap for x in fr)

    todo = [
        p
        for p in m["partitions"]
        if len(p["files"]) > max(max_files, needed(p))
        # under-sharded: fewer files than the cap requires means the cell's
        # average file exceeds the row cap — select it so the cap-rolling
        # writer below re-shards the oversized file(s)
        or (cap and len(p["files"]) < needed(p))
        # skewed: an individual file over the cap even though the per-cell
        # aggregate looks fine (known exactly from the stored file_rows)
        or overcap_file(p)
    ]
    if not todo:
        return m
    data_dir = os.path.join(root, "data")
    cks = {_part_key(p, keys): p["n_rows"] for p in todo}
    pre_files = _list_cells(data_dir, keys, cks)
    # no counts: whole cells, unsalted, each rolled at the cap by one task
    _write_cells_salted(
        _read_partitions(spark, root, m, todo), None, cap, data_dir, keys
    )
    m2 = _next_snapshot(
        spark, root, m, pre_files, set(cks),
        {**m["metrics"], "compacted_cells": len(todo)},
    )
    # safety: a rewrite must keep every cell's rows (footer counts, checked
    # before anything becomes visible)
    after = {_part_key(p, keys): p["n_rows"] for p in m2["partitions"]}
    lost = {
        ck: (n, after.get(ck, 0)) for ck, n in cks.items() if after.get(ck, 0) != n
    }
    if lost:
        raise RuntimeError(
            f"compaction of {root} changed row counts, (before, after) per "
            f"cell: {lost}"
        )
    return _commit_manifest(root, m2)


def expire_snapshots(root: str, keep_last: int = 1) -> int:
    """Delete manifests older than the newest ``keep_last`` snapshots and
    any data file no kept snapshot references. Returns files deleted."""
    m = current_manifest(root)
    if m is None:
        return 0
    keep_ids = [m["snapshot_id"] - i for i in range(keep_last)]
    kept = [manifest_at(root, i) for i in keep_ids]
    live = {
        os.path.normpath(os.path.join(root, f))
        for km in kept
        if km
        for p in km["partitions"]
        for f in p["files"]
    }
    deleted = 0
    for f in glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True):
        if os.path.normpath(f) not in live:
            os.remove(f)
            crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)
            deleted += 1
    for mf in glob.glob(os.path.join(_meta_dir(root), "v*.json")):
        sid = int(os.path.basename(mf)[1:-5])
        if sid not in keep_ids:
            os.remove(mf)
    return deleted


def drop_table(root: str) -> None:
    if os.path.exists(root):
        shutil.rmtree(root)
