"""The benchmark's workloads, driven only through the engine's public calls.

``batch_full``: the three input tables are read, one
``pipeline.run_batch_staged`` call runs (its only action is the staged
turn-stats write), then its four outputs materialize concurrently on a pool
of four threads. Each output is materialized by an
order-independent digest over all of its columns -- the same full-column
computation a noop write forces, with a one-row result that the output
check compares.

``stream_incremental``: ``streaming.job.start_session_qc_query`` writing its
three diary-level sinks, admitting one time-ordered increment per trigger
from a fresh checkpoint, drained with availableNow. The tool-call gate (four
transcript-side sinks, the key store, the per-turn rebuild) stays off: it
doubles every trigger's cost, and a stream run must fit the time budget.

Outputs are compared as they read back from JSON, the form they are pinned
in for a seed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from daily_journal_dataflow_qc_spark.config import PipelineConfig
from daily_journal_dataflow_qc_spark.operators import diaries as diary_ops
from daily_journal_dataflow_qc_spark.operators import transcript as transcript_ops
from daily_journal_dataflow_qc_spark.pipeline import load_inputs, run_batch_staged
from daily_journal_dataflow_qc_spark.streaming.job import start_session_qc_query

from . import inputs as inputs_mod
from .inputs import Inputs

CFG = PipelineConfig()
OUTPUTS = ("accepted", "rejected", "issues", "turn_stats")
SINKS = ("audio_qc", "accepted", "rejected")
POLL_S = 0.1


class CheckFailed(Exception):
    """An output did not match what it must be."""


@dataclass
class Iteration:
    wall_s: float
    outputs: dict  # output name -> comparable summary
    cpu_s: float = 0.0  # CPU seconds of the process tree during the run
    layers: dict = field(default_factory=dict)  # stream progress, traced span walls


def fresh_dir(work: str, name: str) -> str:
    path = os.path.join(work, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def parquet_rows(path: str) -> int:
    """Row count from parquet footers -- no Spark job."""
    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    ]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


# ------------------------------------------------------------------ batch


def digest(df: DataFrame) -> tuple[int, str]:
    """(rows, sum of per-row xxhash64 over every column): forces every
    column like a noop write. Doubles are rounded first so summation order
    inside the engine cannot flip a last bit."""
    cols = [
        F.round(F.col(f.name), 6)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def _clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def batch_iteration(
    spark: SparkSession, inp: Inputs, work: str, label: bool = False
) -> Iteration:
    sc = spark.sparkContext
    spark.catalog.clearCache()
    staging = fresh_dir(work, "staging")
    try:
        t0 = time.perf_counter()
        transcripts, tool_calls, conv_meta = load_inputs(spark, inp.dir)
        t_read = time.perf_counter()
        if label:
            sc.setJobGroup("staged_write", "staged_write")
        out = run_batch_staged(spark, transcripts, tool_calls, conv_meta, staging, CFG)
        if label:
            _clear_group(sc)
        t1 = time.perf_counter()
        frames = {name: getattr(out, name) for name in OUTPUTS}

        def materialize(name: str):
            if label:
                sc.setJobGroup(f"out.{name}", f"out.{name}")
            result = digest(frames[name])
            return result, time.perf_counter() - t1

        with ThreadPoolExecutor(4) as pool:
            done = dict(zip(OUTPUTS, pool.map(materialize, OUTPUTS)))
        t2 = time.perf_counter()
        it = Iteration(wall_s=t2 - t0, outputs={k: v[0] for k, v in done.items()})
        if label:
            it.layers = {
                "staged_write.wall_s": t1 - t_read,
                "fanout.wall_s": t2 - t1,
                "staged_rows": parquet_rows(staging),
                **{f"out.{k}.done_s": v[1] for k, v in done.items()},
            }
        return it
    finally:
        if label:
            _clear_group(sc)
        spark.catalog.clearCache()
        shutil.rmtree(staging, ignore_errors=True)


def _noop(df: DataFrame) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def batch_prefix_spans(spark: SparkSession, inp: Inputs) -> dict[str, float]:
    """Walls of three cumulative operator prefixes, each materialized to a
    noop sink under its own job group; a layer is the difference between
    its prefix and the one before it. The whole prefix also runs unlabelled:
    once untimed (it compiles the prefix's generated code), then once before
    and once after the labelled runs (``plain``): what the labels cost."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    transcripts, tool_calls, conv_meta = load_inputs(spark, inp.dir)
    sessioned = diary_ops.sessionize(diary_ops.dedup_turns(transcripts), CFG)
    qc = diary_ops.audio_qc(diary_ops.diary_identity(sessioned, conv_meta, CFG), CFG)
    returned = transcript_ops.returned_accepted_diaries(
        qc, None, None, lifecycle=transcript_ops.tool_call_lifecycle(tool_calls)
    )
    projected = transcript_ops.text_stats(
        transcript_ops.redact_projection(
            transcript_ops.gap_stats(transcript_ops.attach_diaries(sessioned, returned))
        )
    )
    _noop(projected)
    walls = {"plain": [_noop(projected)]}
    try:
        for name, df in (("diaries", qc), ("lifecycle", returned), ("projection", projected)):
            sc.setJobGroup(name, name)
            walls[name] = _noop(df)
    finally:
        _clear_group(sc)
    walls["plain"].append(_noop(projected))
    return walls


def _as_pinned(outputs: dict) -> dict:
    return json.loads(json.dumps(outputs))


def check_batch(it: Iteration, inp: Inputs, pinned: dict | None) -> None:
    want = inp.expected["counts"]
    for name in OUTPUTS:
        rows = it.outputs[name][0]
        if rows != want[name]:
            raise CheckFailed(f"{name}: {rows} rows, the oracle has {want[name]}")
    if pinned is not None and _as_pinned(it.outputs) != _as_pinned(pinned):
        raise CheckFailed(f"batch outputs {it.outputs} differ from the pinned {pinned}")


# ----------------------------------------------------------------- stream


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def _batch_id(p) -> int:
    return p.batchId if hasattr(p, "batchId") else p["batchId"]


def stream_iteration(
    spark: SparkSession,
    source_dir: str,
    inp: Inputs,
    work: str,
    timeout_s: float,
    cpu: Callable[[], float] | None = None,
) -> Iteration:
    """One drain from a fresh checkpoint. With ``cpu`` (a clock of CPU
    seconds), ``layers["trigger_cpu_s"]`` maps each trigger's batch id to
    the CPU time read between its completion and the previous one's (the
    query start for the first), polled every ``POLL_S``."""
    out_root = fresh_dir(work, "stream_out")
    try:
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        last_cpu = cpu() if cpu else 0.0
        trigger_cpu: dict[int, float] = {}
        conv_meta = spark.read.parquet(inp.table("conv_meta"))
        q, _ = start_session_qc_query(
            spark, source_dir, out_root, conv_meta, CFG, max_files_per_trigger=1
        )
        try:
            seen = None
            while True:
                finished = q.awaitTermination(POLL_S)
                p = q.lastProgress
                if cpu and p is not None and _batch_id(p) != seen:
                    seen = _batch_id(p)
                    now = cpu()
                    trigger_cpu[seen], last_cpu = now - last_cpu, now
                if finished or time.perf_counter() - t0 > timeout_s:
                    break
        finally:
            if q.isActive:
                q.stop()
        wall = time.perf_counter() - t0
        if not finished:
            raise TimeoutError(f"stream did not drain within {timeout_s:.0f}s")
        progress = _progress(q)
        it = Iteration(wall_s=wall, outputs=stream_outputs(out_root))
        it.layers = {
            "progress": progress,
            "window_ms": (start_ms, time.time() * 1000.0),
            "trigger_cpu_s": trigger_cpu,
        }
        return it
    finally:
        shutil.rmtree(out_root, ignore_errors=True)


def _committed(out_root: str, sink: str) -> list[str]:
    mdir = os.path.join(out_root, f"_manifests_{sink}")
    paths = []
    for m in sorted(os.listdir(mdir)):
        if m.startswith("batch-") and m.endswith(".json"):
            with open(os.path.join(mdir, m)) as f:
                paths.append(json.load(f)["path"])
    return paths


def stream_outputs(out_root: str) -> dict:
    """Sink row counts from parquet footers, plus the diary identity set and
    the globally re-ranked accepted set from the audio_qc sink."""
    counts = {s: sum(parquet_rows(p) for p in _committed(out_root, s)) for s in SINKS}
    cols = ["conv_id", "day", "session_start", "daily_submission_number",
            "audio_approved_bool"]
    aqc = pd.concat(
        [pq.read_table(p, columns=cols).to_pandas() for p in _committed(out_root, "audio_qc")],
        ignore_index=True,
    )
    # submission numbers restart in every micro-batch (the reference's own
    # per-ingest-batch rank); re-ranking over all batches must give back the
    # batch pipeline's accepted set
    aqc = aqc.sort_values(["conv_id", "day", "session_start"], kind="mergesort")
    global_rank = aqc.groupby(["conv_id", "day"]).cumcount() + 1
    acc = aqc[(aqc["audio_approved_bool"] == 1) & (global_rank == 1)]
    return {
        "counts": counts,
        "diaries": inputs_mod.set_digest(
            inputs_mod.diary_keys(aqc["conv_id"], aqc["session_start"])
        ),
        "accepted_days": inputs_mod.set_digest(inputs_mod.day_keys(acc["conv_id"], acc["day"])),
    }


def check_stream(it: Iteration, inp: Inputs, pinned: dict | None) -> None:
    want = inp.expected
    got = it.outputs
    if got["diaries"] != want["diaries"]:
        raise CheckFailed("stream diary set differs from the batch audio_qc diary set")
    if got["counts"]["audio_qc"] != want["counts"]["audio_qc"]:
        raise CheckFailed(
            f"audio_qc: {got['counts']['audio_qc']} rows, batch has {want['counts']['audio_qc']}"
        )
    if got["accepted_days"] != want["accepted_days"]:
        raise CheckFailed("re-ranked stream accepted set differs from the batch accepted set")
    if pinned is not None and got["counts"] != pinned["counts"]:
        raise CheckFailed(f"sink counts {got['counts']} differ from the pinned {pinned['counts']}")
