"""Structured Streaming form of the QC pipeline (the north-rule CEP job).

Topology (single continuous job, checkpointed, exactly-once sinks):

    transcripts stream (conv_id, turn_idx, ts, tool only — no text read)
      -> watermark + groupBy(conv_id, session_window(ts, gap)) agg         [diary assembly]
         (the ONE stateful operator: start, end, tool tag, and n_turns as
          the size of the turn-index set [§2.10 dedup] — no text in state)
      [with tool calls: unioned with the tool-call stream (conv_id,
       request_key, kind, ts), the query's second source]
      -> foreachBatch: day assignment + submission rank + acceptance split
         + IdempotentBatchSink commits, each sink in its schemas.py layout [exactly-once]
           and one file per ROWS_PER_FILE rows, sized from the batch's counts
         + with tool calls: the batch's admitted tool-call rows appended
           to an incremental key store (the source's offset log is the
           one admission mechanism, never a full rescan), rolled up ONCE
           per batch by the batch tier's tool_call_lifecycle, which two
           rules read:
           - the returned gate: the batch transcript operators (dedup ->
             gap windows -> redact -> sentence metrics -> transcript_side)
             over a ts-pruned re-read of the admitted source slice,
             range-joined to the returned closing diaries
           - pending flags: the batch J7 rule, emitted in the batch where
             a key first becomes pending                                   [J7/J8]

    transcripts stream -> applyInPandasWithState(conv_id)                  [keyed validator]
         monotone turn_idx high-watermark + exact missing-gap set; emits
         duplicate / out-of-order flag rows (O(gaps) state per conv)

Submission rank inside foreachBatch is per-micro-batch — the reference's own
semantics (mindlamp_accounting.py:145-147 numbers within the ingest batch;
SURVEY §7.3.1). The keyed validator provides the global ordering guarantees.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import DEFAULT_CONFIG, PipelineConfig
from .. import schemas
from ..operators import compile as compile_ops
from ..operators.diaries import audio_qc, dedup_turns, session_identity
from ..operators.transcript import (
    DIARY_COLS,
    DIARY_KEY,
    gap_stats,
    pending_return,
    redact_projection,
    returned_accepted_diaries,
    text_stats,
    tool_call_lifecycle,
    transcript_side,
)
from ..sources.table_format import is_catalog_table, read_table
from .keystore import IncrementalKeyStore
from .sink import IdempotentBatchSink

#: the tool-call columns the gated query admits and its key store keeps
TOOL_CALL_COLS = ["conv_id", "request_key", "kind", "ts"]

#: the declared layout of every sink of the session-QC query. ``accepted``
#: is the audio-accepted subset of ``audio_qc``, not the batch tier's merged
#: accepted set (``compile.accepted_set``): that set carries the transcript
#: side, which the ungated query lacks and the gated one does not yet give
#: every returned diary (a return landing after its session closed)
AUDIO_SINKS = {
    "audio_qc": schemas.AUDIO_QC,
    "accepted": schemas.AUDIO_QC,
    "rejected": schemas.REJECTED,
}
#: the gated query's further sinks (with ``tool_calls_dir``)
TRANSCRIPT_SINKS = {
    "transcript_qc": schemas.TRANSCRIPT_QC,
    "turn_stats": schemas.TURN_STATS,
    "violations": schemas.VIOLATIONS,
    "disfluencies": schemas.DISFLUENCIES,
    "pending_flags": schemas.PENDING_FLAGS,
}

STREAM_CONF = {
    # RocksDB-backed keyed state (north star): state lives off-heap in a
    # native store per partition (bounded JVM heap at 10^8-conversation
    # scale) with incremental checkpoint uploads. Applied at query start by
    # every start_* launcher (the provider is captured into the checkpoint;
    # rocksdbjni ships with Spark 4). Changelog checkpointing keeps the
    # per-trigger commit proportional to the DELTA, not the store size.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # map-side session pre-merge (guide §2.3, aggregate before the
    # exchange): turns that already sit in one partition merge into
    # partial sessions BEFORE the session-window shuffle, so the exchange
    # carries per-partial-session rows instead of per-turn rows — the
    # reduction grows with turns-per-session at scale. Merging is
    # associative, output identical (A/B'd r07: hash-equal, ~2% local).
    "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition": "true",
}


#: the conf that picks the class writing a query's offset and commit logs
#: and its RocksDB state files, and Spark's FileSystem-based class. On a
#: local disk its ``FileSystem.rename`` is the same atomic rename(2) as the
#: default FileContext manager's, but Hadoop's local FileContext rename
#: starts a ``readlink`` child process per file (``FileUtil.readLink``; pip
#: PySpark ships no libhadoop), i.e. one per checkpoint file written
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _is_local_fs(spark: SparkSession, path: str) -> bool:
    """True when Hadoop resolves ``path`` to the local filesystem: a
    ``file:`` URI, or a path with no scheme under a local default FS."""
    scheme = urlparse(path).scheme
    if not scheme:
        default = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
        scheme = urlparse(default or "file:///").scheme
    return scheme == "file"


def _apply_stream_conf(spark: SparkSession, checkpoint_root: str) -> None:
    """Set STREAM_CONF, and the checkpoint manager for ``checkpoint_root``:
    the FileSystem-based one on the local filesystem, Spark's default on
    any other (whose renames may not be atomic through ``FileSystem``).
    Read when the query starts, so call it right before ``start()``."""
    for k, v in STREAM_CONF.items():
        spark.conf.set(k, v)
    if _is_local_fs(spark, checkpoint_root):
        spark.conf.set(CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER)
    else:
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)


# per-checkpoint cache of parsed FileStreamSource log files:
# {sources-dir: {log-file-name: ((mtime_ns, size), frozenset[paths])}}.
# Metadata-log files are immutable once committed (temp-then-rename), so a
# (mtime, size)-validated entry never needs re-parsing — per-trigger driver
# work is O(new log files), not O(total files ever admitted). The stat
# fingerprint also invalidates the entry when a checkpoint directory is
# deleted and recreated at the same path (same names, different content).
_STREAM_LOG_CACHE: dict[str, dict[str, tuple[tuple[int, int], frozenset]]] = {}


def _streamed_files(checkpoint_loc: str, batch_id: int) -> list[str] | None:
    """Source files the file stream has ADMITTED through ``batch_id``, parsed
    from the FileStreamSource metadata log (``sources/0``; entries are one
    JSON line per file, compacted periodically into ``N.compact``).

    Used to scope the foreachBatch turn-stats rebuild to exactly the data the
    session aggregate could have seen: a file that landed in the input dir
    after the batch was constructed must NOT leak rows into the per-turn sink
    (the diary's n_turns never counted them). Returns None when
    the log is unreadable — callers fall back to the full-dir read (the
    pre-compaction behavior).

    INCREMENTAL across triggers: each committed log file is parsed once per
    process and cached (see _STREAM_LOG_CACHE) — a months-lived stream pays
    per-trigger parse cost proportional to the files admitted THAT trigger.

    Sub-watermark LATE rows need no extra handling (measured semantics): a
    late row either merged into its still-live session (counted by the
    diary, so the rebuild must include it — it does, the file is admitted)
    or arrived post-eviction and was dropped by the aggregate (it can never
    match a later closing diary's bounds, sessions being > gap apart).
    """
    src = os.path.join(checkpoint_loc, "sources", "0")
    if not os.path.isdir(src):
        return None
    cache = _STREAM_LOG_CACHE.setdefault(src, {})
    paths: set[str] = set()
    try:
        names = os.listdir(src)
    except OSError:
        return None
    for name in names:
        stem = name.split(".")[0]
        if not stem.isdigit() or int(stem) > batch_id:
            continue
        full = os.path.join(src, name)
        try:
            st = os.stat(full)
        except OSError:
            return None
        fingerprint = (st.st_mtime_ns, st.st_size)
        hit = cache.get(name)
        if hit is not None and hit[0] == fingerprint:
            paths |= hit[1]
            continue
        entry: set[str] = set()
        try:
            with open(full) as f:
                for line in f:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    p = json.loads(line).get("path")
                    if p:
                        entry.add(p)
        except (OSError, json.JSONDecodeError):
            return None
        cache[name] = (fingerprint, frozenset(entry))
        paths |= entry
    return sorted(paths) or None


def _read_stream(
    spark: SparkSession,
    location: str,
    schema: StructType,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """Streaming scan of a catalog table or parquet directory, with the
    ``maxFilesPerTrigger`` backpressure option when given."""
    options = (
        {"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger
        else None
    )
    return read_table(spark, location, schema, streaming=True, options=options)


def _read_admitted(
    spark: SparkSession,
    location: str,
    schema: StructType,
    checkpoint_loc: str,
    batch_id: int,
) -> DataFrame:
    """Batch re-read of a stream's source, scoped to the files the stream
    admitted through ``batch_id`` (see _streamed_files). A catalog table
    (Iceberg path) has no FileStreamSource log, so it is read whole and
    pruned by the caller's filters (a partition-pruned point read on a
    time-partitioned production table; the snapshot-scoped equivalent is an
    Iceberg as-of read at the batch's end offset). An unreadable log falls
    back to the whole directory."""
    if not is_catalog_table(location):
        admitted = _streamed_files(checkpoint_loc, batch_id)
        if admitted:
            return spark.read.schema(schema).parquet(*admitted)
    return read_table(spark, location, schema)


def session_qc_aggregate(turns: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Watermarked session-window diary assembly, the stream's one stateful
    operator: the identity aggregates of ``diaries.diary_identity``, with
    ``n_turns`` the size of the session's turn-index set, so a re-delivered
    turn counts once. A verbatim re-delivery lands in its first copy's
    session (``min``/``max`` take it idempotently) or, after the session's
    eviction, is dropped by the watermark as any late row is; for a
    duplicate with another ``ts`` see ARCHITECTURE's stream/batch note.

    The select keeps the exchange and state to four narrow columns, and no
    text enters state (foreachBatch re-reads the closing diaries' turns for
    every transcript-side figure): a session's state grows by one int per
    distinct turn."""
    gap = f"{cfg.session_gap_minutes} minutes"
    return (
        turns.select("conv_id", "turn_idx", "ts", "tool")
        .withWatermark("ts", cfg.watermark_delay)
        .groupBy("conv_id", F.session_window("ts", gap))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.collect_set("turn_idx").alias("n_turns"),
            F.max(F.col("tool").isNotNull()).alias("has_tool_tag"),
        )
        .withColumn("n_turns", F.size("n_turns").cast("long"))
    )


def _trigger_kwargs(trigger_seconds: float | None) -> dict:
    """availableNow (drain-and-stop; default) vs a continuous
    processing-time trigger — the deployed CEP mode."""
    if trigger_seconds is None:
        return {"availableNow": True}
    return {"processingTime": f"{trigger_seconds} seconds"}


#: rows per parquet file of a sink write: every write is coalesced to
#: ceil(rows / ROWS_PER_FILE) files, at least one, counted from a figure the
#: batch takes anyway. A trigger's diaries otherwise land as one small file
#: per state partition, each a task, an output commit and a footer to read.
ROWS_PER_FILE = 1_000_000


def _sized(df: DataFrame, n_rows: int | None) -> DataFrame:
    """``df`` coalesced to one partition, so one written file, per
    ROWS_PER_FILE of its ``n_rows`` rows (a NULL sum reads as none)."""
    return df.coalesce(max(1, -(-(n_rows or 0) // ROWS_PER_FILE)))


def _off_stream_thread(write):
    """A foreachBatch function that runs ``write`` on a thread of its own.

    ``q.stop()`` interrupts the stream thread. A Spark call the batch makes
    on that thread then fails with an ``InterruptedException``, and Spark
    decides whether that was the stop by a regex that recurses once per
    character of the Python traceback it gets back; on a traceback that
    carries a Java stack trace the regex overflows the thread's stack, and
    the query dies with a ``StackOverflowError`` instead of stopping. On a
    thread of its own (pinned to a JVM thread of its own, outside the
    query's job group) the batch is not interrupted: a stop waits for it to
    finish and commit, and the stream thread, blocked in the callback until
    then, stops cleanly."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(1) as pool:
            pool.submit(write, batch_df, batch_id).result()

    return run


def _write_concurrently(sinks: dict, layouts: dict, jobs: dict, batch_id: int) -> None:
    """Write each ``{sink name: frame}`` of one micro-batch in its sink's
    declared layout, the writes running as overlapping jobs.

    Per-trigger wall at small batch sizes is dominated by a fixed per-JOB
    term (planning + scheduling + sink commit), so overlapping the jobs
    shaves that serial floor; the sinks are separate IdempotentBatchSink
    instances (independent manifest files), so concurrent commits stay
    exactly-once."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(jobs)) as pool:
        futures = [
            pool.submit(sinks[n].write, df.select(*layouts[n].fieldNames()), batch_id)
            for n, df in jobs.items()
        ]
        for f in futures:
            f.result()


def _newly_pending(
    store: DataFrame, lifecycle: DataFrame, batch_id: int, cfg: PipelineConfig
) -> DataFrame:
    """Pending-return flags (J7) first raised in ``batch_id``: keys pending
    over every store row and not pending over the rows admitted before
    this batch (``_batch < batch_id``), each side with its own clock.

    The rule is the batch tier's (``transcript.pending_return`` over
    ``tool_call_lifecycle``); the stream's "today" is the newest admitted
    tool-call ts minus cfg.watermark_delay, a scalar subquery, so building
    the frame runs no job. The store only grows, so per key ``has_request``,
    ``returned`` and ``n_attempts`` only turn on or rise, the clock only
    rises and ``first_request_ts`` only falls: the batches in which a key
    is pending are one contiguous run, and this emits each key once, with
    no emitted-key set and no sink re-read. A replayed batch recomputes the
    same rows, since the store appends nothing under a committed batch id
    and otherwise exactly the rows the offset log admitted in the batch."""
    delay = F.expr(f"INTERVAL {cfg.watermark_delay}")

    def pending(rows: DataFrame, lc: DataFrame) -> DataFrame:
        today = rows.agg(F.max("ts")).scalar() - delay
        return lc.filter(pending_return(cfg, today))

    before = store.filter(F.col("_batch") < batch_id)
    was_pending = pending(before, tool_call_lifecycle(before)).select(
        "conv_id", "request_key"
    )
    return (
        pending(store, lifecycle)
        .join(was_pending, ["conv_id", "request_key"], "left_anti")
        .select(
            "conv_id",
            F.col("request_key").alias("filename"),
            F.col("first_request_ts").alias("req_ts"),
            F.lit("pre-transcript").alias("file_stage"),
            F.lit(compile_ops.MSG_PENDING).alias("error_message"),
        )
    )


def start_session_qc_query(
    spark: SparkSession,
    input_dir: str,
    output_root: str,
    conv_meta: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int | None = None,
    tool_calls_dir: str | None = None,
    trigger_seconds: float | None = None,
):
    """Launch the diary-QC streaming query: availableNow by default, a
    processing-time trigger every ``trigger_seconds`` when given.

    When ``tool_calls_dir`` is given, transcript-side outputs (transcript QC,
    disfluencies, per-turn stats) are gated on the diary's tool-call round
    trip having RETURNED by batch time (reference: transcripts exist only
    after the SFTP pull) and redaction-violated diaries are excluded +
    flagged — by the batch transcript operators, over a re-read of the
    returned closing diaries' turns. Pending-return flags (J7) go to the
    ``pending_flags`` sink (see _newly_pending). The tool calls are the
    query's second streaming source, so a batch also runs when only tool
    calls land; a checkpoint of the query without them cannot be resumed
    with them, nor the other way round (Spark refuses a changed source
    count).

    Returns (query, {sink_name: IdempotentBatchSink}).
    """
    qc_checkpoint = os.path.join(output_root, "_checkpoint_qc")
    _apply_stream_conf(spark, qc_checkpoint)
    # on a catalog table (Iceberg in production) snapshots provide the
    # incremental admission a file stream gets from its metadata log
    turns = _read_stream(spark, input_dir, schemas.TRANSCRIPTS, max_files_per_trigger)
    diary_stream = session_qc_aggregate(turns, cfg)
    diary_cols = diary_stream.columns
    stream = diary_stream
    if tool_calls_dir:
        # the second source, unioned after the session aggregate: its rows
        # carry the _tool_call tag, the diary rows a NULL there. The
        # transcripts stay sources/0 of the checkpoint (_streamed_files
        # reads that log). No maxFilesPerTrigger: each batch admits every
        # tool-call file present.
        tool_calls = _read_stream(spark, tool_calls_dir, schemas.TOOL_CALLS, None)
        stream = diary_stream.unionByName(
            tool_calls.select(*TOOL_CALL_COLS, F.lit(True).alias("_tool_call")),
            allowMissingColumns=True,
        )

    layouts = {**AUDIO_SINKS, **(TRANSCRIPT_SINKS if tool_calls_dir else {})}
    sinks = {name: IdempotentBatchSink(output_root, name) for name in layouts}
    meta = conv_meta  # captured; static dimension

    key_store = (
        IncrementalKeyStore(output_root, "_tool_call_keys") if tool_calls_dir else None
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if all(s.committed(batch_id) for s in sinks.values()):
            # checkpoint replay where EVERY sink already committed this
            # batch: the writes would all no-op, leaving the micro-batch's
            # DataFrame unconsumed — and the upstream session-window state
            # would then never commit for this batch (Spark 4's state-store
            # commit validation fails the query exactly for this).
            # Materialize once (noop sink) so the stateful lineage processes
            # every partition, then return.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        persisted = []
        diaries = batch_df
        try:
            if tool_calls_dir:
                batch = batch_df.persist()
                persisted.append(batch)
                # one action materializes the union batch (the stateful
                # subtree must run exactly once per batch, also on a
                # replay) and counts the tool-call rows it admitted
                n_calls = batch.agg(F.count("_tool_call")).head()[0]
                diaries = batch.filter(F.col("_tool_call").isNull()).select(
                    *diary_cols
                )
                calls = batch.filter(F.col("_tool_call")).select(
                    *TOOL_CALL_COLS, F.lit(batch_id).cast("long").alias("_batch")
                )
            # the batch identity tail + acceptance predicate over this
            # batch's closed sessions (per-batch submission rank =
            # reference semantics)
            qc = audio_qc(session_identity(diaries, meta, cfg), cfg).persist()
            persisted.append(qc)
            # materialize the cache ONCE before fanning out: concurrent
            # first actions on an unmaterialized persisted frame race to
            # compute the stateful upstream (per-partition cache locks
            # serialize but still duplicate scheduling), and the state-store
            # subtree must execute exactly once per batch anyway. Its count
            # sizes the three sinks.
            out = _sized(qc, qc.count())
            _write_concurrently(
                sinks,
                layouts,
                {
                    "audio_qc": out,
                    "accepted": out.filter(F.col("audio_approved_bool") == 1),
                    "rejected": compile_ops.rejected_set(out),
                },
                batch_id,
            )
            if tool_calls_dir:
                # INCREMENTAL: the store gains exactly the tool-call rows
                # this batch admitted; the rules read the accumulated
                # compact store — never a per-batch rescan of the source.
                if n_calls:
                    key_store.append(_sized(calls, n_calls), batch_id)
                # no broadcast hint on the store: it is usually tiny (AQE
                # will broadcast it), but it grows with total diaries —
                # forcing a broadcast would eventually OOM the driver
                try:
                    store = key_store.read(spark)
                except FileNotFoundError:
                    store = calls  # no tool call admitted yet: empty
                lifecycle = tool_call_lifecycle(store)
                # returned gating: round trip complete as of this batch.
                # session_start stands in for the batch tier's session_id:
                # unique per conv, never written.
                returned = (
                    returned_accepted_diaries(qc, lifecycle=lifecycle)
                    .withColumn("session_id", F.col("session_start"))
                    .persist()
                )
                persisted.append(returned)
                # ts bounds and sizes: 4 scalars to the driver — fine at any
                # scale. The bounds statically prune the re-read (at
                # production scale the input is time-partitioned and this is
                # a pruned point read); the counts size the diary-grain and
                # the per-turn sinks.
                bounds = returned.agg(
                    F.min("session_start").alias("lo"),
                    F.max("session_end").alias("hi"),
                    F.count("*").alias("diaries"),
                    F.sum("n_turns").alias("turns"),
                ).head()
                if bounds["lo"] is None:
                    raw = spark.createDataFrame([], schemas.TRANSCRIPTS)
                else:
                    # scoped to the files the stream ADMITTED through this
                    # batch, so rows that landed after batch construction
                    # cannot leak into the transcript sinks
                    raw = _read_admitted(
                        spark, input_dir, schemas.TRANSCRIPTS, qc_checkpoint,
                        batch_id,
                    ).filter(F.col("ts").between(bounds["lo"], bounds["hi"]))
                # ARRIVAL-TIME EXACTNESS (measured, see
                # test_turn_stats_rebuild_watermark_exact_and_replay_
                # converges): a sub-watermark row MERGES into its session
                # if the session's state had not been evicted before the
                # row's admission batch — including the batch OF the
                # eviction itself — and is silently dropped by the
                # aggregate afterwards. Because this re-read runs in the
                # eviction batch over exactly the files admitted by then,
                # every row matching a closing diary's bounds was either
                # merged (counted by the diary — include) or not yet
                # admitted (excluded by the scoping); post-eviction late
                # rows never match a later diary's bounds (sessions are
                # > gap apart). No further filter is needed; a fresh
                # REPLAY admits everything in one batch (no watermark)
                # and converges to the batch tier exactly. The renamed
                # key leaves one conv_id column in the joined rows.
                diary = returned.select(
                    *DIARY_COLS, "session_end"
                ).withColumnRenamed("conv_id", "_dk_conv")
                sliced = raw.join(
                    F.broadcast(diary),
                    on=[
                        F.col("conv_id") == F.col("_dk_conv"),
                        F.col("ts").between(
                            F.col("session_start"), F.col("session_end")
                        ),
                    ],
                    how="inner",
                ).drop("_dk_conv", "session_end")
                # the batch heavy pass over the slice; persisted as the
                # stage step (run_batch's persist_intermediates analogue)
                stats = (
                    text_stats(redact_projection(gap_stats(dedup_turns(sliced))))
                    .drop("text_lc")
                    .persist()
                )
                side = transcript_side(stats)
                persisted += [stats, *side.persisted]
                n_diaries = bounds["diaries"]
                transcript_jobs = {
                    "violations": _sized(
                        returned.join(side.violated, DIARY_KEY, "left_semi"),
                        n_diaries,
                    ),
                    "transcript_qc": _sized(side.transcript_qc, n_diaries),
                    "disfluencies": _sized(side.disfluencies, n_diaries),
                    "turn_stats": _sized(side.turn_stats, bounds["turns"]),
                }
                # with no tool-call row admitted, the store and the clock
                # are those of the previous batch, so no key can become
                # pending (this covers Spark's no-data eviction batch)
                if n_calls:
                    transcript_jobs["pending_flags"] = _sized(
                        _newly_pending(store, lifecycle, batch_id, cfg), n_calls
                    )
                _write_concurrently(sinks, layouts, transcript_jobs, batch_id)
        finally:
            for df in persisted:
                df.unpersist()

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(_off_stream_thread(write_batch))
        .option("checkpointLocation", qc_checkpoint)
        .trigger(**_trigger_kwargs(trigger_seconds))
        .start()
    )
    return q, sinks


def start_validator_query(
    spark: SparkSession,
    input_dir: str,
    output_root: str,
    max_files_per_trigger: int | None = None,
    trigger_seconds: float | None = None,
):
    """Launch the keyed per-conv stream validator (turn_idx HWM + exact
    missing-gap set; see streaming.state) writing duplicate/out-of-order
    flags to an exactly-once sink."""
    checkpoint = os.path.join(output_root, "_checkpoint_validator")
    _apply_stream_conf(spark, checkpoint)
    from .state import turn_stream_validator

    turns = _read_stream(spark, input_dir, schemas.TRANSCRIPTS, max_files_per_trigger)
    flags = turn_stream_validator(turns)
    sink = IdempotentBatchSink(output_root, "turn_flags")

    def write_flags(df: DataFrame, bid: int) -> None:
        if sink.committed(bid):
            # replayed batch: still consume every partition so the keyed
            # state commits (see write_batch's replay note)
            df.write.format("noop").mode("overwrite").save()
            return
        sink.write(df, bid)

    q = (
        flags.writeStream.outputMode("append")
        .foreachBatch(_off_stream_thread(write_flags))
        .option("checkpointLocation", checkpoint)
        .trigger(**_trigger_kwargs(trigger_seconds))
        .start()
    )
    return q, sink
