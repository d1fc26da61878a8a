"""Spans around the benchmark's calls into the package, and a reader that
turns Spark's event log into per-layer measures.

A span is (id, name, start, end, parent, op). The tracer tags the Spark
jobs a span submits with ``setJobGroup(group, name)``; jobs submitted from
threads the package starts itself carry no group, and are given to the
innermost span open at their submission time. Spans are kept in memory and
written out when the run ends.

Measures per span, from the event log (uncompressed, not rolling):

- ``job_ms``: union of the span's job intervals; ``driver_ms`` is the
  span's wall time minus that;
- ``exec_cpu_ms``, ``jvm_gc_ms``, ``shuffle_write_bytes``, ``spill_bytes``
  (memory + disk): task metrics of the span's stages;
- ``python_ms`` ("time to run Python workers"), ``arrow_to_py_bytes``
  ("data sent to Python workers"), ``python_rows`` (rows out of Python
  plan nodes) and ``scan_rows`` (rows out of file scans): SQL metrics;
- ``join_rows_max`` / ``generate_rows_max``: rows out of the largest
  join / generate (explode) plan node, for join pair and replication
  counts;
- ``task_ms``: every task's duration, for skew ratios.
"""

from __future__ import annotations

import bisect
import contextlib
import glob
import json
import os
import statistics
import time

PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonMapInArrow",
)
# summed over a job's tasks
JOB_MEASURES = (
    "exec_cpu_ms", "jvm_gc_ms", "python_ms", "arrow_to_py_bytes",
    "python_rows", "scan_rows", "shuffle_write_bytes", "spill_bytes",
)
# per span: wall/job/driver time, the job sums, the job count and the
# largest output of one join / one generate (explode) plan node
MEASURES = ("wall_ms", "job_ms", "driver_ms") + JOB_MEASURES + (
    "jobs", "join_rows_max", "generate_rows_max",
)


class Tracer:
    """Records spans; a disabled tracer only runs the body."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            # operation id: the outermost span's id, shared by its children
            "op": parent["op"] if parent else self._next_id,
            **attrs,
        }
        self._next_id += 1
        self._stack.append(sp)
        self.sc.setJobGroup(f"pb-{sp['id']}", name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"pb-{outer['id']}", outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), fh)


def find_event_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


def _plan_metrics(info: dict, out: dict) -> None:
    """accumulator id -> (node name, metric name) over a plan tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def read_event_log(path: str) -> dict:
    """Jobs of one application: id -> {group, submit, end (epoch s),
    measures}. Stage work goes to the first job that lists the stage."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    acc: dict[int, tuple[str, str]] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                    "m": dict.fromkeys(JOB_MEASURES, 0),
                    "task_ms": [],
                    "node_rows": {},
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(e.get("sparkPlanInfo", {}), acc)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is None:
                    continue
                m = jobs[jid]["m"]
                tm = e.get("Task Metrics") or {}
                m["exec_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                m["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
                m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                info = e["Task Info"]
                jobs[jid]["task_ms"].append(info["Finish Time"] - info["Launch Time"])
                for a in info.get("Accumulables", []):
                    node, name = acc.get(a.get("ID"), ("", a.get("Name")))
                    upd = a.get("Update")
                    if upd is None:
                        continue
                    if name == "time to run Python workers":
                        m["python_ms"] += float(upd)
                    elif name == "data sent to Python workers":
                        m["arrow_to_py_bytes"] += float(upd)
                    elif name == "number of output rows":
                        if node in PY_NODES:
                            m["python_rows"] += float(upd)
                        elif node.startswith("Scan") or node.startswith("FileSourceScan"):
                            m["scan_rows"] += float(upd)
                        elif "Join" in node or node == "Generate":
                            nr = jobs[jid]["node_rows"]
                            key = (node == "Generate", a["ID"])
                            nr[key] = nr.get(key, 0.0) + float(upd)
    return jobs


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def attribute(spans: list[dict], jobs: dict) -> dict[int, list[int]]:
    """span id -> ids of the jobs it submitted: by job group, else the
    innermost span open at the job's submission."""
    by_group = {f"pb-{s['id']}": s["id"] for s in spans}
    order = sorted(spans, key=lambda s: s["start"])
    starts = [s["start"] for s in order]
    out: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for jid, j in jobs.items():
        sid = by_group.get(j["group"])
        if sid is None:
            # innermost = latest-starting span that contains the submission
            i = bisect.bisect_right(starts, j["submit"])
            for s in reversed(order[:i]):
                if s["end"] >= j["submit"]:
                    sid = s["id"]
                    break
        if sid is not None:
            out[sid].append(jid)
    return out


def span_measures(spans: list[dict], jobs: dict) -> dict[int, dict]:
    """Per-span measures over the jobs each span submitted itself (child
    spans keep their own)."""
    owned = attribute(spans, jobs)
    out = {}
    for s in spans:
        js = [jobs[j] for j in owned[s["id"]]]
        wall = (s["end"] - s["start"]) * 1000.0
        ivs = [
            (max(j["submit"], s["start"]), min(j["end"] or s["end"], s["end"]))
            for j in js
        ]
        job_ms = union_ms([iv for iv in ivs if iv[1] > iv[0]])
        m = {"wall_ms": wall, "job_ms": job_ms, "jobs": len(js)}
        for k in JOB_MEASURES:
            m[k] = sum(j["m"][k] for j in js)
        for k, gen in (("join_rows_max", False), ("generate_rows_max", True)):
            m[k] = max(
                (v for j in js for (g, _), v in j["node_rows"].items() if g == gen),
                default=0.0,
            )
        m["task_ms"] = [t for j in js for t in j["task_ms"]]
        out[s["id"]] = m
    # driver time: wall minus own jobs minus child spans' wall
    child_wall: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + out[s["id"]]["wall_ms"]
    for s in spans:
        m = out[s["id"]]
        m["driver_ms"] = max(m["wall_ms"] - m["job_ms"] - child_wall.get(s["id"], 0.0), 0.0)
    return out


def layer_table(spans: list[dict], measures: dict[int, dict]) -> dict[str, dict]:
    """Per layer (span name): call count, per-call means of every measure,
    the skew of its task durations and any numeric span attributes summed
    (for ratios)."""
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0, "task_ms": [], "attrs": {}})
        row["calls"] += 1
        m = measures[s["id"]]
        for k in MEASURES:
            row[k] = row.get(k, 0.0) + m[k]
        row["task_ms"].extend(m["task_ms"])
        for k, v in s.items():
            if k not in ("id", "name", "parent", "op", "start", "end") and isinstance(v, (int, float)):
                row["attrs"][k] = row["attrs"].get(k, 0) + v
    for row in table.values():
        n = row["calls"]
        for k in MEASURES:
            row[k] = row[k] / n
        row["task_ms_max_over_median"] = skew(row.pop("task_ms"))
    return table


def op_totals(spans: list[dict], jobs: dict, prefix: str = "op.") -> dict:
    """Spark-wide totals over the timed operations: the jobs of every span
    under a root span named ``prefix...``; ``job_ms`` is the union of each
    operation's job intervals, ``driver_ms`` the rest of its wall time."""
    by_id = {s["id"]: s for s in spans}
    owned = attribute(spans, jobs)
    per_op: dict[int, list[dict]] = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        if root["name"].startswith(prefix):
            per_op.setdefault(root["id"], []).extend(jobs[j] for j in owned[s["id"]])
    all_jobs = [j for js in per_op.values() for j in js]
    out = {k: sum(j["m"][k] for j in all_jobs) for k in JOB_MEASURES}
    out["jobs"] = len(all_jobs)
    wall = job = 0.0
    for oid, js in per_op.items():
        op = by_id[oid]
        wall += (op["end"] - op["start"]) * 1000.0
        job += union_ms([(j["submit"], min(j["end"] or op["end"], op["end"])) for j in js])
    out["job_ms"] = job
    out["driver_ms"] = max(wall - job, 0.0)
    out["task_ms_max_over_median"] = skew([t for j in all_jobs for t in j["task_ms"]])
    return out


def skew(task_ms: list[float]) -> float:
    """Longest task over the median task (1 ms floor on the median)."""
    return max(task_ms) / max(statistics.median(task_ms), 1.0) if task_ms else 0.0
