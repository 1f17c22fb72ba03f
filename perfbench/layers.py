"""Per-layer numbers from the Spark event log and from streaming progress.

Two sources, both read after the work is done:

- the Spark event log: every stage carries the job group that was set in the
  thread that submitted it (``spark.jobGroup.id``), and every task end
  carries its metrics, so summing task metrics by stage gives each labelled
  span its task time, task count, shuffle bytes written and bytes spilled;
- ``StreamingQuery.recentProgress``: one JSON object per trigger with its
  phase durations and one entry per stateful operator.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections.abc import Callable, Iterable, Iterator

MB = 1024.0 * 1024.0

SPAN_FIELDS = ("task_s", "tasks", "shuffle_write_mb", "spill_mb")


def read_events(path: str) -> Iterator[dict]:
    """Events of one application: ``path`` is an event-log file, or a
    directory holding exactly one (rolling logs hold several parts)."""
    if os.path.isdir(path):
        files = sorted(
            f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
            if os.path.isfile(f)
        )
    else:
        files = [path]
    for name in files:
        with open(name) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # torn last line of a log still being written


def stage_metrics(events: Iterable[dict]) -> dict[int, dict]:
    """{stage id: group, submit_ms, task_ms, tasks, shuffle/spill bytes}."""
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {"group": None, "submit_ms": None, "task_ms": 0, "tasks": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0},
        )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            s = stage(info["Stage ID"])
            s["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            s["submit_ms"] = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            s = stage(ev["Stage ID"])
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            s["tasks"] += 1
            s["task_ms"] += max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0)
            shuffle = metrics.get("Shuffle Write Metrics") or {}
            s["shuffle_write_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
            s["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
    return stages


def span_totals(stages: dict[int, dict], keep: Callable[[dict], bool]) -> dict[str, float]:
    """The four span metrics summed over the stages ``keep`` selects."""
    chosen = [s for s in stages.values() if keep(s)]
    return {
        "task_s": sum(s["task_ms"] for s in chosen) / 1000.0,
        "tasks": float(sum(s["tasks"] for s in chosen)),
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in chosen) / MB,
        "spill_mb": sum(s["spill_bytes"] for s in chosen) / MB,
    }


def in_group(group: str) -> Callable[[dict], bool]:
    return lambda s: s["group"] == group


def in_window(start_ms: float, end_ms: float) -> Callable[[dict], bool]:
    return lambda s: s["submit_ms"] is not None and start_ms <= s["submit_ms"] <= end_ms


# ------------------------------------------------------------------ streaming


def _ms(p: dict, key: str) -> float:
    return float((p.get("durationMs") or {}).get(key, 0))


def _ops(progress: list[dict], marker: str) -> list[dict]:
    return [
        op
        for p in progress
        for op in p.get("stateOperators") or []
        if marker in op.get("operatorName", "").lower()
    ]


def data_trigger_seconds(progress: list[dict]) -> list[float]:
    """triggerExecution of every trigger that admitted input rows."""
    return [
        _ms(p, "triggerExecution") / 1000.0
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]


def increment_p50(progress: list[dict]) -> float:
    return statistics.median(data_trigger_seconds(progress))


def increment_cpu_p50(progress: list[dict], trigger_cpu: dict[int, float]) -> float:
    """Median CPU seconds over the triggers that admitted input rows (a
    trigger the poll missed is left out; its CPU time counts in the next)."""
    return statistics.median(
        trigger_cpu[p["batchId"]]
        for p in progress
        if p.get("numInputRows", 0) > 0 and p["batchId"] in trigger_cpu
    )


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Trigger, dedup-state and session-state layers, summed over triggers
    (state sizes are the largest any trigger reported)."""
    rows_in = sum(p.get("numInputRows", 0) for p in progress)
    dedup = _ops(progress, "dedup")
    session = _ops(progress, "session")

    def total(ops: list[dict], key: str, scale: float = 1.0) -> float:
        return sum(float(op.get(key, 0)) for op in ops) / scale

    def peak(ops: list[dict], key: str, scale: float = 1.0) -> float:
        return max((float(op.get(key, 0)) for op in ops), default=0.0) / scale

    dedup_updated = total(dedup, "numRowsUpdated")
    return {
        "trigger.count": float(len(progress)),
        "trigger.add_batch_s": sum(_ms(p, "addBatch") for p in progress) / 1000.0,
        "trigger.planning_s": sum(_ms(p, "queryPlanning") for p in progress) / 1000.0,
        "trigger.offset_log_s": sum(
            _ms(p, "walCommit") + _ms(p, "commitOffsets") for p in progress
        ) / 1000.0,
        "dedup.state_rows": peak(dedup, "numRowsTotal"),
        "dedup.rows_updated": dedup_updated,
        "dedup.update_s": total(dedup, "allUpdatesTimeMs", 1000.0),
        "dedup.commit_s": total(dedup, "commitTimeMs", 1000.0),
        "dedup.memory_mb": peak(dedup, "memoryUsedBytes", MB),
        "dedup.kept_ratio": dedup_updated / rows_in if rows_in else 0.0,
        "session.state_rows": peak(session, "numRowsTotal"),
        "session.update_s": total(session, "allUpdatesTimeMs", 1000.0),
        "session.removal_s": total(session, "allRemovalsTimeMs", 1000.0),
        "session.commit_s": total(session, "commitTimeMs", 1000.0),
        "session.memory_mb": peak(session, "memoryUsedBytes", MB),
    }
