"""Tests for the benchmark's own code: the event-log parser, the streaming
progress extraction and the output checks, on synthetic records and on one
tiny seeded run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import layers, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stage_submitted(sid, group, submit_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Submission Time": submit_ms},
            "Properties": props}


def _task_end(sid, launch, finish, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Disk Bytes Spilled": spill}}


def test_event_log_spans_by_group_and_window(tmp_path):
    events = [
        _stage_submitted(0, "out.issues", 1_000),
        _task_end(0, 1_000, 1_500, shuffle=2 * 1024 * 1024),
        _task_end(0, 1_000, 1_250),
        _stage_submitted(1, None, 5_000),
        _task_end(1, 5_000, 7_000, spill=1024 * 1024),
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + '\n{"Event": "torn')
    stages = layers.stage_metrics(layers.read_events(str(tmp_path)))
    assert layers.span_totals(stages, layers.in_group("out.issues")) == {
        "task_s": 0.75, "tasks": 2.0, "shuffle_write_mb": 2.0, "spill_mb": 0.0}
    assert layers.span_totals(stages, layers.in_window(4_000, 6_000)) == {
        "task_s": 2.0, "tasks": 1.0, "shuffle_write_mb": 0.0, "spill_mb": 1.0}
    assert layers.span_totals(stages, layers.in_group("nothing"))["tasks"] == 0.0


def _trigger(rows, ms, ops=(), batch_id=0):
    return {"batchId": batch_id, "numInputRows": rows,
            "durationMs": {"triggerExecution": ms, "addBatch": ms - 100,
                           "queryPlanning": 20, "walCommit": 10, "commitOffsets": 5},
            "stateOperators": list(ops)}


def _op(name, total, updated, mem):
    return {"operatorName": name, "numRowsTotal": total, "numRowsUpdated": updated,
            "allUpdatesTimeMs": 300, "allRemovalsTimeMs": 40, "commitTimeMs": 60,
            "memoryUsedBytes": mem}


def test_progress_layers_sum_triggers_and_peak_state():
    progress = [
        _trigger(100, 4000, [_op("dedupeWithinWatermark", 90, 90, 1024 * 1024),
                             _op("sessionWindowStateStoreSaveExec", 10, 10, 0)], 0),
        _trigger(60, 2000, [_op("dedupeWithinWatermark", 140, 50, 3 * 1024 * 1024),
                            _op("sessionWindowStateStoreSaveExec", 4, 6, 0)], 1),
        _trigger(0, 1000, [_op("dedupeWithinWatermark", 20, 0, 0),
                           _op("sessionWindowStateStoreSaveExec", 0, 0, 0)], 2),
    ]
    got = layers.progress_layers(progress)
    assert got["trigger.count"] == 3
    assert got["trigger.add_batch_s"] == pytest.approx(6.7)
    assert got["trigger.planning_s"] == pytest.approx(0.06)
    assert got["trigger.offset_log_s"] == pytest.approx(0.045)
    assert got["dedup.state_rows"] == 140
    assert got["dedup.rows_updated"] == 140
    assert got["dedup.kept_ratio"] == pytest.approx(140 / 160)
    assert got["dedup.memory_mb"] == 3.0
    assert got["dedup.update_s"] == pytest.approx(0.9)
    assert got["session.state_rows"] == 10
    assert got["session.removal_s"] == pytest.approx(0.12)
    # only triggers that admitted rows count as increments
    assert layers.data_trigger_seconds(progress) == [4.0, 2.0]
    assert layers.increment_p50(progress) == 3.0
    # CPU per increment: data triggers only; one the poll missed is left out
    assert layers.increment_cpu_p50(progress, {0: 9.0, 1: 5.0, 2: 1.0}) == 7.0
    assert layers.increment_cpu_p50(progress, {1: 5.0, 2: 1.0}) == 5.0


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


# ------------------------------------------------------- tiny seeded runs


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """A Spark session writing the event log, and a 12-conversation input."""
    from perfbench import inputs

    base = tmp_path_factory.mktemp("perfbench")
    tmp = base / "tmp"
    tmp.mkdir()
    old_tmpdir = os.environ.get("TMPDIR")
    os.environ["TMPDIR"] = str(tmp)
    events = str(base / "events")
    spark = run.start_spark(str(base), 2, 2, events)
    try:
        inp = inputs.prepare(str(base / "inputs"), 12, 1, 5, 2)
        yield spark, inp, str(base), events
    finally:
        run.stop_spark(spark)
        if old_tmpdir is None:
            os.environ.pop("TMPDIR")
        else:
            os.environ["TMPDIR"] = old_tmpdir


def test_tiny_batch_spans_from_event_log(tiny):
    from perfbench import workloads

    spark, inp, work, events = tiny
    it = workloads.batch_iteration(spark, inp, work, label=True)
    workloads.check_batch(it, inp, None)
    workloads.check_batch(workloads.batch_iteration(spark, inp, work), inp, it.outputs)
    prefix = workloads.batch_prefix_spans(spark, inp)
    assert set(prefix) == {"diaries", "lifecycle", "projection", "plain"}
    stages = layers.stage_metrics(layers.read_events(events))
    for group in ("staged_write", "out.accepted", "out.rejected", "out.issues",
                  "out.turn_stats", "diaries", "lifecycle", "projection"):
        span = layers.span_totals(stages, layers.in_group(group))
        assert span["tasks"] > 0 and span["task_s"] > 0, group
    assert 0 < it.layers["staged_rows"] <= inp.n_turns
    assert it.outputs["turn_stats"][0] <= it.layers["staged_rows"]


def test_tiny_stream_progress_and_checks(tiny):
    from perfbench import workloads

    spark, inp, work, _ = tiny
    it = workloads.stream_iteration(
        spark, inp.stream_dir, inp, work, timeout_s=300, cpu=lambda: run.tree_cpu_s(os.getpid())
    )
    workloads.check_stream(it, inp, None)
    progress = it.layers["progress"]
    assert layers.increment_cpu_p50(progress, it.layers["trigger_cpu_s"]) > 0
    got = layers.progress_layers(progress)
    assert got["trigger.count"] >= 3  # two increments, then the closing trigger
    assert len(layers.data_trigger_seconds(progress)) == 2
    assert 0 < got["dedup.kept_ratio"] <= 1
    assert got["dedup.state_rows"] > 0 and got["session.update_s"] > 0
    assert set(it.outputs["counts"]) == set(workloads.SINKS)
    assert it.outputs["counts"]["audio_qc"] == inp.expected["counts"]["audio_qc"]
    broken = dict(it.outputs, diaries="0" * 64)
    with pytest.raises(workloads.CheckFailed):
        workloads.check_stream(workloads.Iteration(it.wall_s, broken), inp, None)
