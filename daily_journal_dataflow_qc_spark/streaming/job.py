"""Structured Streaming form of the QC pipeline (the north-rule CEP job).

Topology (single continuous job, checkpointed, exactly-once sinks):

    transcripts stream
      -> per-turn stateless projection (normalize, redact UDF, metrics)
      -> watermark + dropDuplicatesWithinWatermark(conv_id, turn_idx)      [§2.10 dedup]
      -> groupBy(conv_id, session_window(ts, gap)) agg                     [diary assembly]
         (per-diary QC sums + (ts, word_count) pairs ONLY — 16 bytes of
          state per turn, never text/per-turn payload; gap stats are
          computed JVM-side post-agg from the sorted pairs)
      -> foreachBatch: day assignment + submission rank + acceptance split
         + IdempotentBatchSink commits                                     [exactly-once]
         + tool-call gating against an INCREMENTAL key store (only new
           source files are read per batch, never a full rescan)
         + per-turn stats rebuilt from a conv/ts-pruned re-read of the
           source slice covering just-closed sessions

    transcripts stream -> applyInPandasWithState(conv_id)                  [keyed validator]
         monotone turn_idx high-watermark + exact missing-gap set; emits
         duplicate / out-of-order flag rows (O(gaps) state per conv)

    tool_calls stream (requests) x (returns): watermarked left-outer
         stream-stream join with a 14-day event-time range; requests that
         survive unmatched past the watermark emit pending flags            [J7/J8]

Submission rank inside foreachBatch is per-micro-batch — the reference's own
semantics (mindlamp_accounting.py:145-147 numbers within the ingest batch;
SURVEY §7.3.1). The keyed validator provides the global ordering guarantees.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from .. import schemas
from ..functions.datetime_rules import proposed_processed_name, with_day_assignment
from ..functions.naming import with_language_marker
from ..functions.redaction import redact_udf
from ..functions.text_metrics import normalize_text, with_sentence_metrics
from ..sources.table_format import is_catalog_table, read_table
from .keystore import IncrementalKeyStore
from .sink import IdempotentBatchSink

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


def _apply_stream_conf(spark: SparkSession) -> None:
    for k, v in STREAM_CONF.items():
        spark.conf.set(k, v)


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
    (the diary's n_turns/word_count never counted them). Returns None when
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


def turn_projection(turns: DataFrame) -> DataFrame:
    """Stateless per-turn stage: redact + lower + sentence metrics."""
    red = redact_udf(normalize_text(F.col("text")))
    df = turns.withColumns(
        {"text": red.getField("redacted"), "violated": red.getField("violated")}
    )
    df = df.withColumn("text_lc", F.lower(F.col("text")))
    df = with_sentence_metrics(df, "text_lc")
    return df.withColumns(
        {
            "inaudibles_and_questionables": (
                F.col("inaudible_count") + F.col("questionable_count")
            ).cast("int"),
            "repeats": (F.col("stutter_repeats") + F.col("word_repeats")).cast("int"),
            "is_ascii": F.col("text").rlike("^[\\x00-\\x7F]*$"),
        }
    )


def session_qc_aggregate(projected: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Watermarked session-window diary assembly with full QC sums."""
    gap = f"{cfg.session_gap_minutes} minutes"
    # EXPLICIT projection to the aggregate's inputs before the stateful
    # chain (guide §2.3: project before the exchange): the dedup operator
    # emits its child's full row set and Catalyst does not prune through
    # it, so without this select the redacted ``text`` AND ``text_lc``
    # (the two widest columns, ~6x the metric payload) would ride the
    # (conv_id, turn_idx) dedup exchange and the conv_id session-window
    # exchange — pure shuffle weight no downstream consumer reads (the
    # per-turn sink rebuilds text from a pruned re-read of the source).
    deduped = (
        projected.select(
            "conv_id",
            "turn_idx",
            "ts",
            "tool",
            "violated",
            "role",
            "word_count",
            "inaudible_count",
            "questionable_count",
            "other_bracketed_words",
            "redactions",
            "nonverbal_edits",
            "verbal_edits",
            "repeats",
            "restarts",
            "is_ascii",
        )
        .withWatermark("ts", cfg.watermark_delay)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )
    agg = deduped.groupBy("conv_id", F.session_window("ts", gap)).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_turns"),
        F.max(F.col("tool").isNotNull()).alias("has_tool_tag"),
        F.max("violated").alias("any_violated"),
        F.size(F.collect_set("role")).alias("speakerID_count"),
        F.sum(F.when(F.col("role") == "S1", 1).otherwise(0)).cast("int").alias("S1_sentence_count"),
        F.sum("word_count").cast("int").alias("word_count"),
        F.min("word_count").alias("min_words_in_sen"),
        F.max("word_count").alias("max_words_in_sen"),
        F.sum("inaudible_count").cast("int").alias("inaudible_count"),
        F.sum("questionable_count").cast("int").alias("questionable_count"),
        F.sum("other_bracketed_words").cast("int").alias("other_bracketed_notation_count"),
        F.sum("redactions").cast("int").alias("redacted_count"),
        F.sum("nonverbal_edits").cast("double").alias("nonverbal_edits_count"),
        F.sum("verbal_edits").cast("double").alias("verbal_edits_count"),
        F.sum("repeats").cast("double").alias("repeats_count"),
        F.sum("restarts").cast("double").alias("restarts_count"),
        F.min("is_ascii").alias("all_ascii"),
        # SCALARS + (ts, word_count) pairs ONLY — 16 bytes/turn of state.
        # Gap stats need adjacent-turn deltas so the pairs are unavoidable,
        # but the full per-turn payload (especially text) must never live in
        # aggregation state: a long hot session would grow one giant state
        # value unboundedly. Per-turn rows for the turn-stats sink are
        # rebuilt in foreachBatch from a FILTERED re-read of the source
        # slice covering just-closed sessions (see write_batch).
        F.sort_array(F.collect_list(F.struct("ts", "word_count"))).alias("_ts_wc"),
    )
    secs = F.transform(
        F.col("_ts_wc"), lambda p: p.getField("ts").cast("double")
    )
    n = F.size(F.col("_ts_wc"))
    gaps = F.zip_with(
        F.slice(secs, 1, n - 1), F.slice(secs, 2, n - 1), lambda a, b: b - a
    )
    gap_per_word = F.zip_with(
        gaps,
        F.transform(F.slice(F.col("_ts_wc"), 1, n - 1), lambda p: p.getField("word_count")),
        lambda g, wc: g / wc,
    )
    return agg.withColumns(
        {
            "total_sentence_count": n.cast("int"),
            "final_timestamp_minutes": F.round(
                (F.col("session_end").cast("double") - F.col("session_start").cast("double")) / 60.0, 3
            ),
            "min_timestamp_space_seconds": F.round(F.array_min(gaps), 3),
            "max_timestamp_space_seconds": F.round(F.array_max(gaps), 3),
            "min_timestamp_space_per_word": F.round(F.array_min(gap_per_word), 3),
            "max_timestamp_space_per_word": F.round(F.array_max(gap_per_word), 3),
            "txt_encoding_type": F.when(F.col("all_ascii"), "ASCII").otherwise("UTF-8"),
        }
    ).drop("all_ascii")


def compile_batch(diary_rows: DataFrame, conv_meta: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """foreachBatch body: identity + acceptance on a micro-batch of closed
    diary sessions (per-batch submission rank = reference semantics)."""
    dim = conv_meta.filter(F.col("consent_date").isNotNull())
    j = diary_rows.join(F.broadcast(dim), "conv_id", "inner")
    j = with_day_assignment(j, ts_col="session_start", day_shift_hour=cfg.day_shift_hour)
    w = Window.partitionBy("conv_id", "day").orderBy("session_start")
    j = j.withColumn("daily_submission_number", F.row_number().over(w)).withColumn(
        "filename",
        proposed_processed_name(F.col("conv_id"), F.col("day"), F.col("daily_submission_number")),
    )
    corrupted = F.col("db_level").isNull() | F.col("duration_sec").isNull()
    vol = F.round(F.col("db_level"), 2)
    approved = (
        F.when(corrupted, 0)
        .when(
            (vol < cfg.db_cutoff)
            | (F.col("duration_sec") < cfg.length_cutoff_sec)
            | (F.col("daily_submission_number") > 1),
            0,
        )
        .otherwise(1)
    )
    return j.withColumns(
        {
            "length_minutes": F.when(corrupted, None).otherwise(F.round(F.col("duration_sec") / 60.0, 3)),
            "overall_db": F.when(corrupted, None).otherwise(vol),
            "mean_flatness": F.when(corrupted, None).otherwise(F.round(F.col("flatness"), 4)),
            "audio_approved_bool": approved.cast("int"),
        }
    )


def _trigger_kwargs(trigger_seconds: float | None) -> dict:
    """availableNow (drain-and-stop; default) vs a continuous
    processing-time trigger — the deployed CEP mode."""
    if trigger_seconds is None:
        return {"availableNow": True}
    return {"processingTime": f"{trigger_seconds} seconds"}


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
    """Launch the diary-QC streaming query (availableNow trigger).

    When ``tool_calls_dir`` is given, transcript-side outputs (transcript QC
    + per-turn stats) are gated on the diary's tool-call round trip having
    RETURNED by batch time (reference: transcripts exist only after the SFTP
    pull) and redaction-violated diaries are excluded + flagged.

    Returns (query, {sink_name: IdempotentBatchSink}).
    """
    _apply_stream_conf(spark)
    if is_catalog_table(input_dir):
        # production path: an Iceberg (or other catalog) table — snapshots
        # provide the incremental admission a file stream gets from its
        # metadata log. The foreachBatch turn-stats rebuild's admitted-FILE
        # scoping does not apply there; it falls back to the full-table read
        # pruned by conv/ts (a partition-pruned point read on a
        # time-partitioned production table).
        turns = read_table(spark, input_dir, schemas.TRANSCRIPTS, streaming=True)
    else:
        reader = spark.readStream.schema(schemas.TRANSCRIPTS)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        turns = reader.parquet(input_dir)

    diary_stream = session_qc_aggregate(turn_projection(turns), cfg)

    sinks = {
        "audio_qc": IdempotentBatchSink(output_root, "audio_qc"),
        "accepted": IdempotentBatchSink(output_root, "accepted"),
        "rejected": IdempotentBatchSink(output_root, "rejected"),
    }
    if tool_calls_dir:
        sinks["transcript_qc"] = IdempotentBatchSink(output_root, "transcript_qc")
        sinks["turn_stats"] = IdempotentBatchSink(output_root, "turn_stats")
        sinks["violations"] = IdempotentBatchSink(output_root, "violations")
        sinks["disfluencies"] = IdempotentBatchSink(output_root, "disfluencies")
    meta = conv_meta  # captured; static dimension

    tqc_cols = [
        "conv_id", "day", "timeofday", "weekday", "daily_submission_number",
        "speakerID_count", "S1_sentence_count", "total_sentence_count",
        "word_count", "min_words_in_sen", "max_words_in_sen",
        "inaudible_count", "questionable_count", "other_bracketed_notation_count",
        "redacted_count", "final_timestamp_minutes",
        "min_timestamp_space_seconds", "max_timestamp_space_seconds",
        "min_timestamp_space_per_word", "max_timestamp_space_per_word",
        "txt_encoding_type", "filename",
        "nonverbal_edits_count", "verbal_edits_count", "repeats_count",
        "restarts_count",
    ]

    key_store = (
        IncrementalKeyStore(output_root, "_tool_call_keys") if tool_calls_dir else None
    )
    qc_checkpoint = os.path.join(output_root, "_checkpoint_qc")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        if all(s.committed(batch_id) for s in sinks.values()):
            # checkpoint replay where EVERY sink already committed this
            # batch: the writes would all no-op, leaving the micro-batch's
            # DataFrame unconsumed — and the upstream stateful operators
            # (dedup + session window) would then never commit their state
            # for this batch (Spark 4's state-store commit validation fails
            # the query exactly for this). Materialize once (noop sink) so
            # the stateful lineage processes every partition, then return.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        qc = compile_batch(batch_df, meta, cfg)
        qc = qc.persist()
        persisted = [qc]
        try:
            # materialize the cache ONCE before fanning out: concurrent
            # first actions on an unmaterialized persisted frame race to
            # compute the stateful upstream (per-partition cache locks
            # serialize but still duplicate scheduling), and the state-store
            # subtree must execute exactly once per batch anyway
            qc.count()
            # the three diary-level sinks derive independently from the
            # persisted qc frame: run their write actions CONCURRENTLY.
            # Per-trigger wall at small batch sizes is dominated by a fixed
            # per-JOB term (planning + scheduling + sink commit), so
            # overlapping the jobs shaves that serial floor; the sinks are
            # separate IdempotentBatchSink instances (independent manifest
            # files), so concurrent commits stay exactly-once.
            accepted = qc.filter(F.col("audio_approved_bool") == 1)
            rejected = qc.filter(F.col("audio_approved_bool") != 1).select(
                "conv_id",
                "day",
                "daily_submission_number",
                "overall_db",
                "length_minutes",
                "submit_hour_int",
                "subject_consent_month",
            )
            jobs = [
                (sinks["audio_qc"].write, qc.drop("_ts_wc")),
                (sinks["accepted"].write, accepted.drop("_ts_wc")),
                (sinks["rejected"].write, rejected),
            ]
            with ThreadPoolExecutor(3) as pool:
                futures = [pool.submit(fn, df, batch_id) for fn, df in jobs]
                for f in futures:
                    f.result()
            if tool_calls_dir:
                # returned gating: round trip complete as of this batch.
                # INCREMENTAL: only tool-call files not yet ingested are
                # read this batch; the gate joins against the accumulated
                # compact (conv_id, filename, kind) key store — never a
                # per-batch full rescan of the source table.
                key_store.ingest(
                    spark,
                    tool_calls_dir,
                    batch_id,
                    schemas.TOOL_CALLS,
                    lambda df: df.select(
                        "conv_id", F.col("request_key").alias("_tool_key"), "kind"
                    ),
                )
                keys = key_store.read(spark)
                req = keys.filter(F.col("kind") == "request").drop("kind")
                ret = keys.filter(F.col("kind") == "return").drop("kind")
                # the tool side names files with the language marker (S10);
                # match on the marked name. No broadcast hint: the key store
                # is usually tiny (AQE will broadcast it), but it grows with
                # total diaries — forcing a broadcast would eventually OOM
                # the driver at scale.
                marked = accepted.withColumn(
                    "_tool_key",
                    with_language_marker(F.col("filename"), F.col("language")),
                )
                returned = marked.join(
                    req.join(ret, ["conv_id", "_tool_key"], "left_semi"),
                    ["conv_id", "_tool_key"],
                    "left_semi",
                ).drop("_tool_key").persist()
                persisted.append(returned)
                returned.count()  # materialize before the concurrent writes
                clean = returned.filter(~F.col("any_violated"))
                # disfluency summary (phone_transcript_sentence_stats.py:97-118;
                # length_minutes carries overall_db — the reproduced bug)
                total = (
                    F.col("nonverbal_edits_count") + F.col("verbal_edits_count")
                    + F.col("repeats_count") + F.col("restarts_count")
                )
                disf = clean.select(
                    "conv_id",
                    "day",
                    "daily_submission_number",
                    F.concat(
                        F.regexp_replace("filename", "\\.wav$", ""),
                        F.lit("_REDACTED_withSentenceStats.csv"),
                    ).alias("transcript_csv_name"),
                    F.col("overall_db").alias("length_minutes"),
                    F.col("word_count").cast("double").alias("total_word_count"),
                    "nonverbal_edits_count",
                    "verbal_edits_count",
                    "repeats_count",
                    "restarts_count",
                    total.alias("total_disfluencies"),
                    (F.col("nonverbal_edits_count") / F.col("word_count")).alias("nonverbal_edits_per_word"),
                    (F.col("verbal_edits_count") / F.col("word_count")).alias("verbal_edits_per_word"),
                    (F.col("repeats_count") / F.col("word_count")).alias("repeats_per_word"),
                    (F.col("restarts_count") / F.col("word_count")).alias("restarts_per_word"),
                    (total / F.col("overall_db")).alias("disfluencies_per_minute"),
                )
                # the three transcript-side sinks derive independently from
                # the persisted returned frame: overlap their jobs (same
                # fixed-per-job rationale as the diary-level sinks above)
                tjobs = [
                    (
                        sinks["violations"].write,
                        returned.filter(F.col("any_violated")).select(
                            "conv_id", "day", "daily_submission_number", "filename"
                        ),
                    ),
                    (sinks["transcript_qc"].write, clean.select(*tqc_cols)),
                    (sinks["disfluencies"].write, disf),
                ]
                with ThreadPoolExecutor(3) as pool:
                    futures = [pool.submit(fn, df, batch_id) for fn, df in tjobs]
                    for f in futures:
                        f.result()
                # per-turn stats: REBUILT from a filtered re-read of the
                # source slice covering exactly the clean closed diaries —
                # per-turn payloads (especially text) never transit streaming
                # state. The filter pushes conv_id (dictionary/stats pruning)
                # and a ts range down to the parquet scan, so the per-batch
                # cost is proportional to the turns of the sessions closing
                # NOW, not to the table; at production scale the input is a
                # time-partitioned/bucketed table and this is a pruned point
                # read. Last turn estimates sentence seconds from
                # overall_db*60 — the reproduced reference bug, SURVEY §7.3.2.
                diary_keys = clean.select(
                    "conv_id", "day", "daily_submission_number", "session_start",
                    "session_end", "overall_db",
                )
                # ts bounds: 2 scalars to the driver — fine at any scale.
                # The conv prune is a broadcast LEFT SEMI against the batch's
                # distinct conv set (NOT collect_set -> isin: a batch closing
                # millions of sessions would blow up the driver and burn a
                # giant literal into the plan). The scan is additionally
                # scoped to files the stream ADMITTED through this batch, so
                # rows that landed after batch construction can't leak into
                # the per-turn sink, and statically pruned by the ts range
                # (at production scale the input is time-partitioned and this
                # is a pruned point read).
                bounds = diary_keys.agg(
                    F.min("session_start").alias("lo"),
                    F.max("session_end").alias("hi"),
                ).head()
                if bounds and bounds["lo"] is not None:
                    if is_catalog_table(input_dir):
                        # catalog-table source (Iceberg path): no
                        # FileStreamSource metadata log exists, so the rebuild
                        # reads the TABLE in batch mode — pruned below by the
                        # conv semi-join + ts range (a partition-pruned point
                        # read on a time-partitioned production table; the
                        # snapshot-scoped equivalent of the admitted-file list
                        # is an Iceberg as-of read at the batch's end offset).
                        raw_src = read_table(
                            spark, input_dir, schemas.TRANSCRIPTS
                        )
                    else:
                        admitted = _streamed_files(qc_checkpoint, batch_id)
                        reader = spark.read.schema(schemas.TRANSCRIPTS)
                        raw_src = (
                            reader.parquet(*admitted)
                            if admitted
                            else reader.parquet(input_dir)
                        )
                    # renamed key columns sidestep the self-lineage ambiguity
                    # (the semi-join side and the range-join side both derive
                    # from diary_keys)
                    conv_set = diary_keys.select(
                        F.col("conv_id").alias("_prune_conv")
                    ).distinct()
                    raw = raw_src.filter(
                        F.col("ts").between(bounds["lo"], bounds["hi"])
                    ).join(
                        F.broadcast(conv_set),
                        F.col("conv_id") == F.col("_prune_conv"),
                        "left_semi",
                    )
                    # ARRIVAL-TIME EXACTNESS (measured, see
                    # test_turn_stats_rebuild_watermark_exact_and_replay_
                    # converges): a sub-watermark row MERGES into its session
                    # if the session's state had not been evicted before the
                    # row's admission batch — including the batch OF the
                    # eviction itself — and is silently dropped by the
                    # aggregate afterwards. Because this rebuild runs in the
                    # eviction batch over exactly the files admitted by then,
                    # every row matching a closing diary's bounds was either
                    # merged (counted by the diary — include) or not yet
                    # admitted (excluded by the scoping); post-eviction late
                    # rows never match a later diary's bounds (sessions are
                    # > gap apart). No further filter is needed; a fresh
                    # REPLAY admits everything in one batch (no watermark)
                    # and converges to the batch tier exactly.
                    dk = diary_keys.withColumnRenamed("conv_id", "_dk_conv")
                    sliced = raw.join(
                        F.broadcast(dk),
                        on=[
                            F.col("conv_id") == F.col("_dk_conv"),
                            F.col("ts").between(
                                F.col("session_start"), F.col("session_end")
                            ),
                        ],
                        how="inner",
                    ).drop("_dk_conv")
                    # first-arrival dedup within the slice (duplicates are
                    # verbatim re-deliveries, so equal to the agg-side
                    # dropDuplicatesWithinWatermark choice)
                    w_dedup = Window.partitionBy("conv_id", "turn_idx").orderBy("ts")
                    sliced = (
                        sliced.withColumn("_rn", F.row_number().over(w_dedup))
                        .filter(F.col("_rn") == 1)
                        .drop("_rn")
                    )
                    t = turn_projection(sliced)
                    w_lead = Window.partitionBy(
                        "conv_id", "day", "daily_submission_number"
                    ).orderBy("ts", "turn_idx")
                    cur = F.col("ts").cast("double")
                    sec_from_start = cur - F.col("session_start").cast("double")
                    t = t.withColumn("_next_ts", F.lead("ts").over(w_lead)).withColumn(
                        "estimated_sentence_seconds",
                        F.when(
                            F.col("_next_ts").isNotNull(),
                            F.col("_next_ts").cast("double") - cur,
                        ).otherwise(F.col("overall_db") * 60.0 - sec_from_start),
                    )
                    turn_rows = t.select(
                        "conv_id",
                        "turn_idx",
                        "day",
                        "daily_submission_number",
                        "role",
                        "text",
                        "word_count",
                        "inaudibles_and_questionables",
                        "other_bracketed_words",
                        "redactions",
                        "estimated_sentence_seconds",
                        "nonverbal_edits",
                        "verbal_edits",
                        "stutter_repeats",
                        "word_repeats",
                        "repeats",
                        "restarts",
                    )
                else:
                    turn_rows = spark.createDataFrame([], schemas.TURN_STATS)
                sinks["turn_stats"].write(turn_rows, batch_id)
        finally:
            for df in persisted:
                df.unpersist()

    q = (
        diary_stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(output_root, "_checkpoint_qc"))
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
    _apply_stream_conf(spark)
    from .state import turn_stream_validator

    if is_catalog_table(input_dir):
        turns = read_table(spark, input_dir, schemas.TRANSCRIPTS, streaming=True)
    else:
        reader = spark.readStream.schema(schemas.TRANSCRIPTS)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        turns = reader.parquet(input_dir)
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
        .foreachBatch(write_flags)
        .option("checkpointLocation", os.path.join(output_root, "_checkpoint_validator"))
        .trigger(**_trigger_kwargs(trigger_seconds))
        .start()
    )
    return q, sink


def start_pending_flags_query(
    spark: SparkSession,
    tool_calls_dir: str,
    output_root: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    trigger_seconds: float | None = None,
    max_files_per_trigger: int | None = None,
):
    """J7/J8: watermarked left-outer stream-stream join of requests x returns.
    Requests with no return within the deadline are emitted once the
    watermark passes request_ts + deadline (event-time timeout).

    Batch-tier parity (issues_set):

    * requests are deduped to FIRST arrival per (conv_id, request_key)
      before the join — S8 retries would otherwise emit one pending row per
      attempt (the batch tier ages the min request ts),
    * keys whose retries exhausted without a return are anti-joined out in
      the sink: the batch tier flags them 'TranscribeMe SFTP upload failed'
      and EXCLUDES them from pending. Attempt counts come from a batch read
      of the already-admitted tool-call files scoped (broadcast semi-join)
      to the handful of keys emitting this batch — by emission time the
      watermark is 14 days past the first attempt, so every retry (5 s
      backoff) has long been admitted and the count is exact.
    """
    _apply_stream_conf(spark)
    from ..operators.transcript import push_attempt_stats

    if is_catalog_table(tool_calls_dir):
        tc = read_table(spark, tool_calls_dir, schemas.TOOL_CALLS, streaming=True)
    else:
        reader = spark.readStream.schema(schemas.TOOL_CALLS)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        tc = reader.parquet(tool_calls_dir)
    req = (
        tc.filter(F.col("kind") == "request")
        .select("conv_id", "request_key", F.col("ts").alias("req_ts"))
        .withWatermark("req_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["conv_id", "request_key"])
    )
    ret = (
        tc.filter(F.col("kind") == "return")
        .select(
            F.col("conv_id").alias("r_conv_id"),
            F.col("request_key").alias("r_request_key"),
            F.col("ts").alias("ret_ts"),
        )
        .withWatermark("ret_ts", "1 hour")
    )
    deadline = f"INTERVAL {cfg.pending_deadline_days} DAYS"
    joined = req.join(
        ret,
        (F.col("conv_id") == F.col("r_conv_id"))
        & (F.col("request_key") == F.col("r_request_key"))
        & (F.col("ret_ts") >= F.col("req_ts"))
        & (F.col("ret_ts") <= F.col("req_ts") + F.expr(deadline)),
        "leftOuter",
    )
    pending = joined.filter(F.col("ret_ts").isNull()).select(
        "conv_id",
        F.col("request_key").alias("filename"),
        F.col("req_ts"),
        F.lit("pre-transcript").alias("file_stage"),
        F.lit(
            "File has been pending return from TranscribeMe for over 2 weeks now"
        ).alias("error_message"),
    )
    sink = IdempotentBatchSink(output_root, "pending_flags")
    checkpoint = os.path.join(output_root, "_checkpoint_pending")

    def write_pending(df: DataFrame, batch_id: int) -> None:
        if sink.committed(batch_id):
            # replayed batch: still consume every partition so the join /
            # dedup state commits (see write_batch's replay note)
            df.write.format("noop").mode("overwrite").save()
            return
        if is_catalog_table(tool_calls_dir):
            # catalog-table source: batch read of the table (the semi-join
            # below scopes the scan to the handful of keys emitting now)
            tcb = read_table(spark, tool_calls_dir, schemas.TOOL_CALLS)
        else:
            admitted = _streamed_files(checkpoint, batch_id)
            reader = spark.read.schema(schemas.TOOL_CALLS)
            tcb = (
                reader.parquet(*admitted)
                if admitted
                else reader.parquet(tool_calls_dir)
            )
        keys = df.select(
            F.col("conv_id").alias("_c"), F.col("filename").alias("_k")
        ).distinct()
        scoped = tcb.join(
            F.broadcast(keys),
            (tcb["conv_id"] == F.col("_c")) & (tcb["request_key"] == F.col("_k")),
            "left_semi",
        )
        exhausted = (
            push_attempt_stats(scoped)
            .filter(
                (~F.col("returned"))
                & (F.col("n_attempts") >= cfg.max_push_attempts)
            )
            .select("conv_id", F.col("request_key").alias("filename"))
        )
        out = df.join(F.broadcast(exhausted), ["conv_id", "filename"], "left_anti")
        # one-row-per-key guarantee beyond the dedup watermark: the
        # pre-join dropDuplicatesWithinWatermark holds its state only for
        # the 1-hour watermark, so a retry of the same (conv_id,
        # request_key) arriving >1h of event time after the first request
        # re-enters the join and would emit a SECOND pending row for the
        # key (the batch tier's issues_set is one row per key, aged from
        # the MIN request ts). Two-level guard: keep-earliest within the
        # emitting batch (both emissions usually become due at the same
        # watermark advance), then anti-join against everything this sink
        # already committed (emissions split across batches). Pending
        # flags are rare (weeks-overdue requests), so both sides are tiny.
        w_first = Window.partitionBy("conv_id", "filename").orderBy("req_ts")
        out = (
            out.withColumn("_rn", F.row_number().over(w_first))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        try:
            prior = sink.read(spark).select("conv_id", "filename").distinct()
            out = out.join(prior, ["conv_id", "filename"], "left_anti")
        except FileNotFoundError:
            pass  # first committed batch — nothing prior to dedupe against
        sink.write(out, batch_id)

    q = (
        pending.writeStream.outputMode("append")
        .foreachBatch(write_pending)
        .option("checkpointLocation", checkpoint)
        .trigger(**_trigger_kwargs(trigger_seconds))
        .start()
    )
    return q, sink
