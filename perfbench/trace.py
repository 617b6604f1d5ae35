"""Spans around each layer call, and the per-layer metrics of a traced run.

Every layer call runs inside `Tracer.span(layer)`, which tags the call's
Spark jobs with `setJobGroup(<span id>)` and cancels them when the call
overruns its timeout. Spans stay in memory; the run writes them out when it
ends. In a traced run the Spark event log is on, and `layer_metrics` joins
it to the spans: stage → job → job group → span → layer.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Layers are the engine's modules. For each per-layer metric: its unit and
# the end-to-end metric it should move, and on which workloads.
LAYER_METRICS = {
    "session.start_s": ("s", "setup_s", "all"),
    "session.warmup_s": ("s", "setup_s", "all"),
    "indexing.bounds_s": ("s", "setup_s", "tile_pip ingest_commit"),
    "spatial_join.cover_s": ("s", "setup_s", "tile_pip"),
    "indexing.wall_s": ("s", "run_s items_per_s", "tile_pip ingest_commit knn_dense"),
    "indexing.cpu_s": ("s", "run_s items_per_s", "tile_pip ingest_commit"),
    "indexing.gc_s": ("s", "run_s items_per_s", "tile_pip ingest_commit"),
    "indexing.shuffle_write_bytes": ("bytes", "run_s items_per_s", "tile_pip ingest_commit"),
    "indexing.spill_bytes": ("bytes", "run_s peak_rss_mb", "tile_pip ingest_commit"),
    "indexing.task_skew": ("ratio", "run_s items_per_s", "tile_pip ingest_commit"),
    "indexing.driver_s": ("s", "run_s items_per_s", "tile_pip ingest_commit"),
    "spatial_join.wall_s": ("s", "run_s", "tile_pip"),
    "spatial_join.cpu_s": ("s", "run_s", "tile_pip"),
    "spatial_join.candidates": ("count", "run_s", "tile_pip"),
    "spatial_join.hit_ratio": ("ratio", "run_s", "tile_pip"),
    "spatial_join.task_skew": ("ratio", "run_s", "tile_pip"),
    "skew.wall_s": ("s", "run_s", "tile_pip"),
    "skew.shuffle_write_bytes": ("bytes", "run_s", "tile_pip"),
    "knn.wall_s": ("s", "run_s items_per_s", "knn_dense"),
    "knn.cpu_s": ("s", "run_s items_per_s", "knn_dense"),
    "knn.gc_s": ("s", "run_s peak_rss_mb", "knn_dense"),
    "knn.candidates_per_query": ("count", "run_s items_per_s", "knn_dense"),
    "knn.shuffle_write_bytes": ("bytes", "run_s items_per_s", "knn_dense"),
    "knn.spill_bytes": ("bytes", "run_s peak_rss_mb", "knn_dense"),
    "knn.task_skew": ("ratio", "run_s items_per_s", "knn_dense"),
    "decode.wall_s": ("s", "run_s", "ingest_commit"),
    "decode.cpu_s": ("s", "run_s", "ingest_commit"),
    "decode.rows_out": ("count", "run_s", "ingest_commit"),
    "decode.shuffle_write_bytes": ("bytes", "run_s", "ingest_commit"),
    "multimodal.wall_s": ("s", "run_s", "ingest_commit"),
    "multimodal.cpu_s": ("s", "run_s", "ingest_commit"),
    "multimodal.python_eval_s": ("s", "run_s", "ingest_commit"),
    "multimodal.payload_scans": ("ratio", "run_s", "ingest_commit"),
    "lineage.commit_s": ("s", "run_s commit_s", "ingest_commit"),
    "lineage.bytes_written": ("bytes", "commit_s write_amp", "ingest_commit"),
    "lineage.files_written": ("count", "commit_s", "ingest_commit"),
    "lineage.resume_s": ("s", "run_s resume_s", "ingest_commit"),
    "lineage.verify_s": ("s", "run_s resume_s", "ingest_commit"),
    "spark.slot_idle_s": ("s", "run_s", "all"),
    "spark.fetch_wait_s": ("s", "run_s", "all"),
    "spark.gap_s": ("s", "run_s", "all"),
    "trace.overhead": ("ratio", "run_s", "all"),
    "trace.span_coverage": ("ratio", "run_s", "all"),
}

GLUE_GROUP = "bench-glue"


class Tracer:
    """In-memory spans: name (layer), start, end, parent, per-span counts."""

    def __init__(self, sc, timeout_s: float):
        self.sc = sc
        self.timeout_s = timeout_s
        self.spans: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, layer: str, parent: dict | None = None):
        sid = self._next
        self._next += 1
        group = f"span-{sid}"
        self.sc.setJobGroup(group, layer)
        timer = threading.Timer(self.timeout_s, self.sc.cancelJobGroup, [group])
        timer.daemon = True
        timer.start()
        rec = {
            "id": sid,
            "layer": layer,
            "parent": None if parent is None else parent["id"],
            "counts": {},
            "start": time.time(),
        }
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            timer.cancel()
            self.spans.append(rec)
            self.sc.setJobGroup(GLUE_GROUP, "benchmark glue")


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part of it its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children[s["id"]], s["start"], s["end"])
        for s in spans
    }


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _evt_reader(root: str):
    """scripts/evt_analyze.py's event-log line reader, loaded by path."""
    path = os.path.join(root, "scripts", "evt_analyze.py")
    spec = importlib.util.spec_from_file_location("evt_analyze", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return lambda log: mod._iter_lines(mod._resolve_log(log))


def read_event_log(root: str, log_path: str) -> dict:
    """Stages (with job group, interval, tasks) and SQL node metrics."""
    exec_group = {}
    stage_group, stages = {}, {}
    tasks = defaultdict(list)
    nodes, acc_vals = {}, defaultdict(int)

    def walk(plan, eid):
        # a file scan is described by the schema it reads, other nodes by
        # their simpleString
        desc = (plan.get("metadata") or {}).get("ReadSchema") or plan.get("simpleString", "")
        for m in plan.get("metrics", []):
            nodes[m["accumulatorId"]] = (eid, plan["nodeName"], m["name"], desc)
        for c in plan.get("children", []):
            walk(c, eid)

    for line in _evt_reader(root)(log_path):
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            eid = props.get("spark.sql.execution.id")
            if eid is not None and group is not None:
                exec_group.setdefault(int(eid), group)
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = (si.get("Submission Time"), si.get("Completion Time"))
            for a in si.get("Accumulables", []):
                try:
                    acc_vals[a["ID"]] = max(acc_vals[a["ID"]], int(a["Value"]))
                except (TypeError, ValueError):
                    pass
        elif ev == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks[e["Stage ID"]].append(
                {
                    "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000,
                    "run": tm.get("Executor Run Time", 0) / 1000,
                    "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc": tm.get("JVM GC Time", 0) / 1000,
                    "spill": tm.get("Disk Bytes Spilled", 0),
                    "fetch_wait": sr.get("Fetch Wait Time", 0) / 1000,
                    "shuffle_read": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                }
            )
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            walk(e["sparkPlanInfo"], e["executionId"])
    sql = defaultdict(list)  # job group → [(node, metric, description, value)]
    for aid, (eid, node, metric, desc) in nodes.items():
        if aid in acc_vals and eid in exec_group:
            sql[exec_group[eid]].append((node, metric, desc, acc_vals[aid]))
    out_stages = {}
    for sid, (t0, t1) in stages.items():
        if t0 is None or t1 is None or not tasks.get(sid):
            continue
        out_stages[sid] = {
            "group": stage_group.get(sid),
            "start": t0 / 1000,
            "end": t1 / 1000,
            "tasks": tasks[sid],
        }
    return {"stages": out_stages, "sql": sql}


def _skew(stages: list[dict]) -> float:
    """max / median task time of the busiest shuffle-reading stage."""
    cands = [s for s in stages if len(s["tasks"]) > 1]
    readers = [s for s in cands if sum(t["shuffle_read"] for t in s["tasks"]) > 0]
    pool = readers or cands
    if not pool:
        return 0.0
    st = max(pool, key=lambda s: sum(t["run"] for t in s["tasks"]))
    durs = [t["dur"] for t in st["tasks"]]
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 0.0


def _rows(sql_entries, node: str, key: str) -> int:
    return sum(
        v
        for n, metric, simple, v in sql_entries
        if n == node and metric == "number of output rows" and simple.startswith(f"{node} [{key}")
    )


def schema_columns(read_schema: str) -> list[str]:
    """Top-level field names of a ReadSchema such as struct<a:int,b:array<int>>."""
    names, depth, field = [], 0, ""
    for ch in read_schema[len("struct<") : -1] + ",":
        if ch == "," and depth == 0:
            names.append(field.split(":", 1)[0])
            field = ""
            continue
        depth += (ch == "<") - (ch == ">")
        field += ch
    return names


def pass_walls(pass_span: dict, spans: list[dict]) -> dict:
    """Wall time of each layer's spans in one pass; for a pass that commits a
    snapshot also its commit_s, and its resume_s (serve + verify)."""
    walls = defaultdict(float)
    for s in spans:
        if s["parent"] == pass_span["id"]:
            walls[s["layer"]] += s["end"] - s["start"]
    if "lineage.commit" in walls:
        walls["commit_s"] = walls["lineage.commit"]
        walls["resume_s"] = walls["lineage.resume"] + walls["lineage.verify"]
    return dict(walls)


def slot_idle(stages: list[dict], cores: int, lo: float, hi: float) -> float:
    """Task-slot seconds left idle while any of the stages ran: cores times
    the union of their intervals, less the time of all their tasks."""
    covered = _covered([(st["start"], st["end"]) for st in stages], lo, hi)
    busy = sum(t["dur"] for st in stages for t in st["tasks"])
    return max(cores * covered - busy, 0.0)


def pass_layer_metrics(pass_span, spans, evt, cores: int, payload) -> dict:
    """Per-layer metrics of one traced pass."""
    kids = [s for s in spans if s["parent"] == pass_span["id"]]
    walls = pass_walls(pass_span, spans)
    st_self = self_times(spans)
    by_layer = defaultdict(list)
    for s in kids:
        by_layer[s["layer"]].append(s)
    stages_of = defaultdict(list)
    for st in evt["stages"].values():
        stages_of[st["group"]].append(st)

    def layer_stages(layer):
        return [st for s in by_layer[layer] for st in stages_of[f"span-{s['id']}"]]

    def tsum(layer, key):
        return sum(t[key] for st in layer_stages(layer) for t in st["tasks"])

    def sql_of(layer):
        return [x for s in by_layer[layer] for x in evt["sql"].get(f"span-{s['id']}", [])]

    def wall(layer):
        return walls.get(layer, 0.0)

    def count(layer, key):
        return sum(s["counts"].get(key, 0) for s in by_layer[layer])

    m = {}
    for layer in ("indexing", "spatial_join", "skew", "knn", "decode", "multimodal"):
        m[f"{layer}.wall_s"] = wall(layer)
        m[f"{layer}.cpu_s"] = tsum(layer, "cpu")
        m[f"{layer}.gc_s"] = tsum(layer, "gc")
        m[f"{layer}.shuffle_write_bytes"] = tsum(layer, "shuffle_write")
        m[f"{layer}.spill_bytes"] = tsum(layer, "spill")
        m[f"{layer}.task_skew"] = _skew(layer_stages(layer))
    m["indexing.driver_s"] = sum(
        (s["end"] - s["start"])
        - _covered([(st["start"], st["end"]) for st in stages_of[f"span-{s['id']}"]], s["start"], s["end"])
        for s in by_layer["indexing"]
    )
    cand = _rows(sql_of("spatial_join"), "BroadcastHashJoin", "cell_id")
    m["spatial_join.candidates"] = cand
    m["spatial_join.hit_ratio"] = count("spatial_join", "rows") / cand if cand else 0.0
    queries = count("knn", "queries")
    m["knn.candidates_per_query"] = (
        _rows(sql_of("knn"), "BroadcastHashJoin", "cell_id") / queries if queries else 0.0
    )
    m["decode.rows_out"] = count("decode", "rows")
    m["multimodal.python_eval_s"] = (
        sum(v for n, metric, _, v in sql_of("multimodal") if metric == "time to run Python workers")
        / 1000
    )
    # task input metrics miss what a Python stage's feeder thread reads, so
    # each scan's bytes are its rows' share of the columns it reads
    n_rows, col_bytes = payload
    read = sum(
        v / n_rows * sum(col_bytes.get(c, 0) for c in schema_columns(schema))
        for n, metric, schema, v in sql_of("multimodal")
        if n.startswith("Scan parquet") and metric == "number of output rows"
    )
    m["multimodal.payload_scans"] = read / sum(col_bytes.values())
    m["lineage.commit_s"] = wall("lineage.commit")
    m["lineage.bytes_written"] = count("lineage.commit", "bytes")
    m["lineage.files_written"] = count("lineage.commit", "files")
    m["lineage.resume_s"] = wall("lineage.resume")
    m["lineage.verify_s"] = wall("lineage.verify")

    p0, p1 = pass_span["start"], pass_span["end"]
    pass_stages = [st for s in kids for st in stages_of[f"span-{s['id']}"]]
    m["spark.slot_idle_s"] = slot_idle(pass_stages, cores, p0, p1)
    m["spark.fetch_wait_s"] = sum(t["fetch_wait"] for st in pass_stages for t in st["tasks"])
    m["spark.gap_s"] = (p1 - p0) - _covered([(st["start"], st["end"]) for st in pass_stages], p0, p1)
    m["trace.span_coverage"] = sum(st_self[s["id"]] for s in kids) / (p1 - p0)
    return m


def layer_metrics(root, log_path, spans, cores, payload, setup, run_s_traced, run_s_plain):
    """Median over traced passes of each per-layer metric, plus set-up spans.

    payload is the image payload table's (rows, compressed bytes per column),
    so that multimodal.payload_scans counts the table's bytes read in whole
    tables."""
    evt = read_event_log(root, log_path)
    per_pass = [
        pass_layer_metrics(p, spans, evt, cores, payload)
        for p in spans
        if p["layer"] == "pass"
    ]
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out.update(setup)
    out["trace.overhead"] = run_s_traced / run_s_plain - 1.0
    return {k: {"value": out[k], "unit": LAYER_METRICS[k][0]} for k in LAYER_METRICS}
