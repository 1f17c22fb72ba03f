#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_full --seed 7 --seconds 30 --trace 0

Run from the repository root. The run sets up (Spark session, seeded
inputs), then times one run of the workload: the first in its session, as
each invocation of a daily job is. With ``--trace 0`` it reports the end-to-end
metrics. With ``--trace 1`` the session also writes the Spark event log,
the run labels every layer, and the benchmark reports the per-layer
metrics. Every run checks its outputs; ``--seconds`` only caps how long a
stream may take to drain beyond its usual time.
Stdout ends with one JSON line: correct, attempted, failed, metrics.
Everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

BASE_CONVS = 60
REPLICAS = 1
INCREMENTS = 2  # stream_incremental: time-ordered files, one per trigger
BATCH_SHUFFLE_PARTITIONS = 4
STREAM_TIMEOUT_S = 120.0  # a stream that has not drained by then fails
DRIVER_MEM = "2g"

# CPU seconds, not wall seconds: the 4 vCPUs are shared with other guests
# and lose 10-25% of their time to them in busy phases, which stretched the
# wall time of the same run by up to 85% and its CPU time by up to 25%
END_TO_END = {
    "turns_per_cpu_s": "1/s",
    "increment_cpu_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

_SPAN = {"task_s": "s", "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB"}
PER_LAYER = {
    **{f"{span}.{k}": u for span in ("staged_write", "diaries", "lifecycle", "projection")
       for k, u in {"wall_s": "s", **_SPAN}.items()},
    **{f"out.{o}.{k}": u for o in ("accepted", "rejected", "issues", "turn_stats")
       for k, u in {"done_s": "s", **_SPAN}.items()},
    "projection.rows_per_turn": "ratio",
    "out.issues.rows_per_task": "rows/task",
    "staged_write.clean_ratio": "ratio",
    "trace.layer_sum_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trigger.count": "count",
    "trigger.add_batch_s": "s",
    "trigger.planning_s": "s",
    "trigger.offset_log_s": "s",
    "dedup.state_rows": "rows",
    "dedup.rows_updated": "rows",
    "dedup.update_s": "s",
    "dedup.commit_s": "s",
    "dedup.memory_mb": "MB",
    "dedup.kept_ratio": "ratio",
    "session.state_rows": "rows",
    "session.update_s": "s",
    "session.removal_s": "s",
    "session.commit_s": "s",
    "session.memory_mb": "MB",
    "stream.task_s": "s",
    "stream.shuffle_write_mb": "MB",
    "stream.spill_mb": "MB",
}

WORKLOADS = ("batch_full", "stream_incremental")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------ process tree


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def _tree(root: int) -> list[int]:
    children, todo, pids = _children(), [root], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, including exited children their parents have reaped."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue  # the process exited between listing and reading
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants: pages
    shared between processes (forked Python workers share most of theirs
    with the daemon) count once in total instead of once per process."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue  # the process exited between listing and reading
    return total


class PeakRss:
    """Samples the resident memory (PSS) of this process and all its
    descendants -- the driver JVM and its Python workers -- while active.
    ``cpu_s`` is the CPU time the sampling itself took."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self.cpu_s = time.thread_time()
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(10)


# ------------------------------------------------------------------ spark


def start_spark(run_dir: str, cores: int, shuffle_partitions: int, event_dir: str | None):
    from daily_journal_dataflow_qc_spark.session import get_spark

    # the JVM prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark_local")
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    conf = {
        # the bench input is one parquet file per table: 16m splits keep the
        # scan parallel (bench.py's setting)
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.local.dir": os.path.join(run_dir, "spark_local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # C1 JIT only: a run is one short-lived JVM, in which C2 compiles
        # burn ~40 CPU-seconds on 4 cores and never pay off (with C2 the
        # timed batch run took as long, at ~105 CPU-s instead of ~63 and with
        # twice the spread). The heap starts at its full size, so how far it
        # grows is not a per-run decision of the collector.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:TieredStopAtLevel=1 -Xms{heap}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_partitions,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM ignored EOF on its stdin
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------- metrics


def batch_layers(traced, prefix_walls, stages, inp) -> dict[str, float]:
    from perfbench import layers

    out: dict[str, float] = {"staged_write.wall_s": traced.layers["staged_write.wall_s"]}
    for name in ("staged_write", "out.accepted", "out.rejected", "out.issues", "out.turn_stats"):
        for k, v in layers.span_totals(stages, layers.in_group(name)).items():
            out[f"{name}.{k}"] = v
    for name in ("accepted", "rejected", "issues", "turn_stats"):
        out[f"out.{name}.done_s"] = traced.layers[f"out.{name}.done_s"]
    # prefix spans: each layer is its cumulative prefix minus the previous one
    prev_wall, prev = 0.0, dict.fromkeys(layers.SPAN_FIELDS, 0.0)
    for name in ("diaries", "lifecycle", "projection"):
        cum = layers.span_totals(stages, layers.in_group(name))
        out[f"{name}.wall_s"] = prefix_walls[name] - prev_wall
        for k in layers.SPAN_FIELDS:
            out[f"{name}.{k}"] = cum[k] - prev[k]
        prev_wall, prev = prefix_walls[name], cum
    staged_rows = traced.layers["staged_rows"]
    issue_tasks = out["out.issues.tasks"]
    out["projection.rows_per_turn"] = staged_rows / inp.n_turns
    out["out.issues.rows_per_task"] = traced.outputs["issues"][0] / issue_tasks if issue_tasks else 0.0
    out["staged_write.clean_ratio"] = (
        traced.outputs["turn_stats"][0] / staged_rows if staged_rows else 0.0
    )
    span_sum = traced.layers["staged_write.wall_s"] + traced.layers["fanout.wall_s"]
    out["trace.layer_sum_ratio"] = span_sum / traced.wall_s
    # the labelled projection prefix against the mean of its two unlabelled
    # neighbours
    plain = prefix_walls["plain"]
    out["trace.overhead_ratio"] = prefix_walls["projection"] / (sum(plain) / len(plain))
    return out


def stream_layers(traced, stages) -> dict[str, float]:
    from perfbench import layers

    progress = traced.layers["progress"]
    out = layers.progress_layers(progress)
    window = layers.span_totals(stages, layers.in_window(*traced.layers["window_ms"]))
    out.update({f"stream.{k}": v for k, v in window.items() if k != "tasks"})
    trigger_sum = sum(
        float((p.get("durationMs") or {}).get("triggerExecution", 0)) for p in progress
    ) / 1000.0
    out["trace.layer_sum_ratio"] = trigger_sum / traced.wall_s
    return out


def end_to_end(workload: str, it, inp, setup_s: float, peak_rss: int) -> dict[str, float]:
    from perfbench import layers

    if workload == "batch_full":
        increment = it.cpu_s  # a full reprocess is one increment
    else:
        increment = layers.increment_cpu_p50(it.layers["progress"], it.layers["trigger_cpu_s"])
    return {
        "turns_per_cpu_s": inp.n_turns / it.cpu_s,
        "increment_cpu_p50_s": increment,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / (1024.0 * 1024.0),
    }


# ------------------------------------------------------------------- main


def _timed(fn, *args):
    t = time.perf_counter()
    return fn(*args), time.perf_counter() - t


def _prepare_inputs(seed: int):
    """The seeded inputs, the wall time and the CPU time (of this thread)
    it took to build or load them."""
    from perfbench import inputs

    t, c = time.perf_counter(), time.thread_time()
    inp = inputs.prepare(os.path.join(WORK, "inputs"), BASE_CONVS, REPLICAS, seed, INCREMENTS)
    return inp, time.perf_counter() - t, time.thread_time() - c


def run(args, run_dir: str) -> int:
    from perfbench import inputs, layers, workloads

    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    batch = args.workload == "batch_full"
    check = workloads.check_batch if batch else workloads.check_stream
    t_run = time.perf_counter()
    spark = inp = it = None
    attempted = failed = 0
    phases: dict[str, float] = {}

    def cpu() -> float:
        return tree_cpu_s(os.getpid())

    def attempt(label: bool = False):
        nonlocal attempted, failed
        attempted += 1
        try:
            cpu0 = cpu()
            if batch:
                it = workloads.batch_iteration(spark, inp, run_dir, label)
            else:
                it = workloads.stream_iteration(
                    spark, inp.stream_dir, inp, run_dir, STREAM_TIMEOUT_S + args.seconds, cpu
                )
            it.cpu_s = cpu() - cpu0
            pinned = inputs.load_pin(inp, args.workload)
            check(it, inp, pinned)
            if pinned is None:
                inputs.save_pin(inp, args.workload, it.outputs)
        except Exception:  # a failed run is counted and reported
            failed += 1
            traceback.print_exc()
            return None
        return it

    event_dir = os.path.join(run_dir, "events") if args.trace else None
    try:
        parts = BATCH_SHUFFLE_PARTITIONS if batch else cores  # state partitions = cores
        with ThreadPoolExecutor(1) as pool:
            # the inputs build in Python while the JVM starts
            pending = pool.submit(_prepare_inputs, args.seed)
            spark, phases["session_s"] = _timed(start_spark, run_dir, cores, parts, event_dir)
            inp, phases["inputs_s"], phases["inputs_cpu_s"] = pending.result()
        # CPU seconds of the whole process tree so far -- interpreter start,
        # imports, the JVM start -- less the benchmark's own input build,
        # which a cached seed skips
        setup_s = cpu() - phases["inputs_cpu_s"]
        phases["setup_wall_s"] = time.perf_counter() - t_run
        if args.trace:
            it = attempt(label=True)
            prefix_walls = workloads.batch_prefix_spans(spark, inp) if batch and it else {}
        else:
            with PeakRss() as rss:
                it = attempt()
            if it is not None:
                it.cpu_s -= rss.cpu_s
    finally:
        if spark is not None:
            _, phases["stop_s"] = _timed(stop_spark, spark)

    if it is None:
        print("perfbench: the timed run failed", file=sys.stderr)
        return 1
    if args.trace:
        # read after the session stopped: the event log is complete and closed
        stages = layers.stage_metrics(layers.read_events(event_dir))
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        if batch:
            metrics.update(batch_layers(it, prefix_walls, stages, inp))
        else:
            metrics.update(stream_layers(it, stages))
        units = PER_LAYER
    else:
        metrics = end_to_end(args.workload, it, inp, setup_s, rss.peak)
        units = END_TO_END

    # wall-clock figures, for reading alongside the CPU-based metrics
    wall = {"run_s": (it.wall_s, "s"), "turns_per_s": (inp.n_turns / it.wall_s, "1/s")}
    if not batch:
        wall["increment_p50_s"] = (layers.increment_p50(it.layers["progress"]), "s")
    triggers = "" if batch else " data_triggers_s=" + ",".join(
        f"{t:.2f}" for t in layers.data_trigger_seconds(it.layers["progress"])
    )
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"turns={inp.n_turns} nproc={cores} load1_start={load_start:.2f} "
          f"load1_end={os.getloadavg()[0]:.2f} "
          + " ".join(f"{k}={v:.2f}" for k, v in phases.items())
          + triggers)
    print(f"# attempted={attempted} failed={failed} fail_ratio={failed / attempted:.4f}")
    for name, (v, unit) in wall.items():
        print(f"# {name:<30} {v:>16.6f} {unit} (wall clock)")
    for name in sorted(metrics):
        print(f"{name:<32} {metrics[name]:>16.6f} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # before pyspark starts: the package zip, py4j's connection file, the
    # JVM and its Python workers all take their scratch space from here
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    try:
        try:
            import perfbench.workloads  # noqa: F401  (imports the engine)
        except ImportError as e:
            print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
            return 2
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
