"""Tests of the benchmark itself: metric catalogue, trace parsing, inputs.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench import inputs, run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_every_metric_the_run_prints(bench):
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v[0] for k, v in trace.LAYER_METRICS.items()
    }
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


def _event_log(path: str, t0: float) -> None:
    """A two-stage event log: one indexing span, one spatial-join span."""
    ms = lambda s: int((t0 + s) * 1000)  # noqa: E731
    plan = {
        "nodeName": "BroadcastHashJoin",
        "simpleString": "BroadcastHashJoin [cell_id#1L], [cell_id#2L], Inner",
        "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
        "children": [],
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "span-2", "spark.sql.execution.id": "3"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": plan},
    ]
    for sid, (a, b) in enumerate([(0.1, 0.9), (1.1, 1.8)]):
        for k in range(2):
            events.append(
                {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                 "Task Info": {"Launch Time": ms(a), "Finish Time": ms(b - 0.1 * k)},
                 "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 4e8,
                                  "JVM GC Time": 10, "Disk Bytes Spilled": 0,
                                  "Shuffle Read Metrics": {"Fetch Wait Time": 5, "Local Bytes Read": 64},
                                  "Shuffle Write Metrics": {"Shuffle Bytes Written": 128}}}
            )
        events.append(
            {"Event": "SparkListenerStageCompleted",
             "Stage Info": {"Stage ID": sid, "Submission Time": ms(a), "Completion Time": ms(b),
                            "Accumulables": [{"ID": 7, "Value": "40"}] if sid else []}}
        )
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")


def test_layer_metrics_from_event_log_report_every_per_layer_metric(tmp_path):
    t0 = 1_000_000.0
    _event_log(str(tmp_path / "app"), t0)
    spans = [
        {"id": 0, "layer": "pass", "parent": None, "counts": {}, "start": t0, "end": t0 + 2.0},
        {"id": 1, "layer": "indexing", "parent": 0, "counts": {}, "start": t0, "end": t0 + 1.0},
        {"id": 2, "layer": "spatial_join", "parent": 0, "counts": {"rows": 10},
         "start": t0 + 1.0, "end": t0 + 1.9},
    ]
    setup = {"session.start_s": 9.0, "session.warmup_s": 5.0,
             "indexing.bounds_s": 0.1, "spatial_join.cover_s": 0.2}
    m = trace.layer_metrics(ROOT, str(tmp_path / "app"), spans, 4, (1, {"x": 1}), setup, 2.2, 2.0)
    assert set(m) == set(trace.LAYER_METRICS)
    assert m["spatial_join.candidates"]["value"] == 40
    assert m["spatial_join.hit_ratio"]["value"] == pytest.approx(0.25)
    assert m["indexing.driver_s"]["value"] == pytest.approx(0.2, abs=1e-6)
    assert m["indexing.cpu_s"]["value"] == pytest.approx(0.8)
    assert m["trace.span_coverage"]["value"] == pytest.approx(0.95)
    assert m["trace.overhead"]["value"] == pytest.approx(0.1)
    # 4 slots over the 1.5 s the stages cover, 2.8 task-seconds busy
    assert m["spark.slot_idle_s"]["value"] == pytest.approx(3.2, abs=1e-6)


def test_self_time_subtracts_the_union_of_child_spans():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_slot_idle_counts_overlapping_stages_once():
    task = lambda d: {"dur": d}  # noqa: E731
    stages = [
        {"start": 0.0, "end": 2.0, "tasks": [task(2.0), task(1.0)]},
        {"start": 1.0, "end": 3.0, "tasks": [task(2.0), task(2.0)]},
    ]
    # 4 slots over the 3 s the two stages cover, 7 task-seconds busy
    assert trace.slot_idle(stages, 4, 0.0, 10.0) == pytest.approx(5.0)


def test_pass_walls_sum_each_layer_and_derive_snapshot_times():
    p = {"id": 0}
    spans = [
        {"id": 1, "layer": "decode", "parent": 0, "start": 0.0, "end": 1.0},
        {"id": 2, "layer": "lineage.commit", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 3, "layer": "lineage.resume", "parent": 0, "start": 3.0, "end": 3.5},
        {"id": 4, "layer": "lineage.verify", "parent": 0, "start": 3.5, "end": 4.5},
        {"id": 5, "layer": "decode", "parent": 9, "start": 5.0, "end": 9.0},
    ]
    w = trace.pass_walls(p, spans)
    assert w["decode"] == pytest.approx(1.0)
    assert w["commit_s"] == pytest.approx(2.0)
    assert w["resume_s"] == pytest.approx(1.5)


def test_schema_columns_splits_top_level_fields_only():
    assert trace.schema_columns("struct<image_id:string,v:array<struct<a:int,b:int>>,w:int>") == [
        "image_id", "v", "w",
    ]


def test_generator_is_deterministic_per_seed():
    a, b = inputs.base_images(3, 8), inputs.base_images(3, 8)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == inputs.base_n("tile_pip")
    assert a["image_id"].is_unique


def test_different_seeds_give_different_inputs():
    a, b = inputs.base_images(3, 8), inputs.base_images(4, 8)
    assert not a["phash"].equals(b["phash"])
    assert (a["bytes"] != b["bytes"]).mean() > 0.9


def test_replicated_ids_match_the_spark_replication():
    assert inputs.replicated_ids(["img_0000001", "img_0000002"], 2) == [
        "img_0000001#0", "img_0000001#1", "img_0000002#0", "img_0000002#1",
    ]
    assert inputs.replicated_ids(["img_0000001"], 1) == ["img_0000001"]
