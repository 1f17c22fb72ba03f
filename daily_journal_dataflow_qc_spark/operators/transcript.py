"""Transcript-side operators: redaction, per-turn sentence stats, per-diary
transcript QC, and the disfluency summary.

Graft of the reference's transcript branch (phone_transcript_redaction.py,
transcript_diary_qc.py, phone_transcript_sentence_stats.py). A transcript
exists for a diary iff the diary was accepted AND its tool-call round trip
returned (reference: file reached completed_audio via SFTP pull).

Parity traps honored (SURVEY.md §7.3):
* the reference passes ``overall_db`` where ``audio_duration`` (minutes) is
  expected (phone_transcript_sentence_stats.py:74,76) — the last-sentence
  duration estimate and the disfluency table's ``length_minutes`` /
  ``disfluencies_per_minute`` inherit that bug; we reproduce it faithfully,
* min/max timestamp-space stats exclude the appended last-sentence duration
  (transcript_diary_qc.py:207 computes inner gaps only),
* per-word gap normalizes by the EARLIER sentence's word count
  (transcript_diary_qc.py:218).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import schemas
from ..config import PipelineConfig
from ..functions.naming import with_language_marker
from ..functions.redaction import redacted_line, violated_line
from ..functions.text_metrics import normalize_text, with_sentence_metrics

DIARY_KEY = ["conv_id", "session_id"]
# the diary columns the per-turn stats and the diary rollup read
DIARY_COLS = [
    *DIARY_KEY,
    "day",
    "daily_submission_number",
    "session_start",
    "overall_db",
    "filename",
    "timeofday",
    "weekday",
]


def dedup_tool_calls(tool_calls: DataFrame, kind: str) -> DataFrame:
    """First-arrival per (conv_id, request_key) for one kind (request|return).

    Retried push attempts (S8: the reference re-tries the SFTP push up to 10
    times, journal_transcribeme_sftp_push.py:166-191) are re-deliveries of
    the same key and collapse here; the attempt-count lifecycle itself is
    modeled by ``push_attempt_stats``."""
    w = Window.partitionBy("conv_id", "request_key").orderBy("ts")
    return (
        tool_calls.filter(F.col("kind") == kind)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def push_attempt_stats(tool_calls: DataFrame) -> DataFrame:
    """S8 push-lifecycle rollup per (conv_id, request_key): attempt count,
    first/last attempt time, and whether the round trip ever returned.

    Graft of the reference's retry loop (journal_transcribeme_sftp_push.py:
    166-191 — up to 10 connection attempts, 5 s backoff, per-file
    ``sftp.exists`` idempotence): each request row is one push attempt; a
    key whose attempts reach the max without a return is "still in
    audio_to_send" and gets the upload-failed flag
    (subject_summaries_update.sh:127-143). One aggregation over the
    tool-call stream — scales as a plain keyed rollup.

    Attempts are counted over DISTINCT request timestamps: duplicate
    tool-call rows are verbatim re-deliveries (same ts) and must not
    inflate the count toward the upload-failed flag, while genuine retries
    are >= 5 s apart (the reference's backoff) and stay distinct."""
    is_req = F.col("kind") == "request"
    return tool_calls.groupBy("conv_id", "request_key").agg(
        F.countDistinct(F.when(is_req, F.col("ts"))).cast("int").alias("n_attempts"),
        F.min(F.when(is_req, F.col("ts"))).alias("first_attempt_ts"),
        F.max(F.when(is_req, F.col("ts"))).alias("last_attempt_ts"),
        F.max(F.col("kind") == "return").alias("returned"),
    )


def tool_call_lifecycle(tool_calls: DataFrame) -> DataFrame:
    """ONE keyed rollup of the raw tool-call stream carrying everything the
    request/return reconciliation families need, per (conv_id, request_key):

    * ``n_attempts``        — distinct request timestamps (push_attempt_stats
      semantics: verbatim re-deliveries share a ts and count once),
    * ``first_request_ts``  — the first-ARRIVAL request ts, i.e. the ts of
      the row ``dedup_tool_calls(.., "request")`` keeps: a row_number window
      ordered by ts ascending puts NULL ts first, so the struct-min below
      ranks (ts IS NOT NULL, ts) — a null-ts request row yields NULL here,
      exactly like the window pick (a plain min(ts) would skip the null and
      silently substitute a later real timestamp),
    * ``has_request`` / ``returned`` — kind existence flags.

    Replaces the per-family ``dedup_tool_calls`` window derivations in the
    batch pipeline: the un-restructured issues plan re-derived the
    (conv_id, request_key) window dedup up to 15x (56 parquet scans, 45
    exchanges, ZERO ReusedExchange — constraint pushdown and per-consumer
    column pruning break canonical equality, the same failure mode as
    dsir_logweights' diamond). One map-side-combined aggregation has no
    such reuse problem, no sort, and bounded groups (retries per key are
    capped by the reference's 10-attempt loop), so it is the 100-TB shape
    as well as the local one."""
    is_req = F.col("kind") == "request"
    first_arrival = F.min(
        F.when(
            is_req,
            F.struct(
                F.col("ts").isNotNull().alias("nn"), F.col("ts").alias("v")
            ),
        )
    )
    return tool_calls.groupBy("conv_id", "request_key").agg(
        F.countDistinct(F.when(is_req, F.col("ts"))).cast("int").alias("n_attempts"),
        first_arrival["v"].alias("first_request_ts"),
        F.max(is_req).alias("has_request"),
        F.max(F.col("kind") == "return").alias("returned"),
    )


def retries_exhausted(cfg: PipelineConfig) -> Column:
    """S8 exhausted-retries predicate over a ``push_attempt_stats`` or
    ``tool_call_lifecycle`` row: cfg.max_push_attempts attempts and no
    return — the file is still in audio_to_send
    (journal_transcribeme_sftp_push.py:166-191)."""
    return (~F.col("returned")) & (F.col("n_attempts") >= cfg.max_push_attempts)


def pending_return(cfg: PipelineConfig, today: Column) -> Column:
    """J7 predicate over a ``tool_call_lifecycle`` row: a request that
    reached the tool (not ``retries_exhausted``) has no return, and its
    first arrival is at least cfg.pending_deadline_days before ``today``
    (journal_outputs_error_check.py:116-129). A NULL lifecycle flag, as on
    an outer-join row with no lifecycle side, reads as false; a NULL
    ``first_request_ts`` or ``today`` has no age, so the predicate is NULL
    and no flag is raised."""

    def present(name: str) -> Column:
        return F.coalesce(F.col(name), F.lit(False))

    return (
        present("has_request")
        & ~F.coalesce(retries_exhausted(cfg), F.lit(False))
        & ~present("returned")
        & (
            F.datediff(F.to_date(today), F.to_date("first_request_ts"))
            >= cfg.pending_deadline_days
        )
    )


def clear_resolved_push_errors(
    issues_log: DataFrame, tool_calls: DataFrame, conv_language: DataFrame
) -> DataFrame:
    """Graft of manual_update_utilities/sftp_push_error_clear.py: remove
    'TranscribeMe SFTP upload failed' rows whose file has since left the
    upload queue (modeled: the key's round trip RETURNED after a later
    successful push); every other issue row is kept verbatim — the
    reference edits the persistent issues CSV in place, this is the same
    edit expressed relationally.

    ``conv_language``: (conv_id, language) — returns carry the language-
    marked tool-side key (S10), the issues log carries the local name."""
    from ..functions.naming import strip_language_marker

    from .compile import MSG_UPLOAD_FAILED

    resolved = (
        tool_calls.filter(F.col("kind") == "return")
        .select("conv_id", "request_key")
        .join(F.broadcast(conv_language), "conv_id", "left")
        .select(
            "conv_id",
            strip_language_marker(F.col("request_key"), F.col("language")).alias(
                "filename"
            ),
        )
        .distinct()
    )
    failed = issues_log.filter(F.col("error_message") == MSG_UPLOAD_FAILED)
    rest = issues_log.filter(F.col("error_message") != MSG_UPLOAD_FAILED)
    return rest.unionByName(
        failed.join(resolved, ["conv_id", "filename"], "left_anti")
    )


def clear_resolved_return_errors(
    issues_log: DataFrame, pending_files: DataFrame, transcripts: DataFrame
) -> DataFrame:
    """Graft of manual_update_utilities/transcribeme_return_error_clear.py:
    drop 'pending return for over 2 weeks' issue rows whose file (a) is NO
    LONGER in the pending-return area and (b) has its transcript present —
    i.e. the return actually arrived and the stale flag can clear. Files
    still pending (TranscribeMe genuinely never returned them) are KEPT,
    exactly as the reference insists.

    ``pending_files``: (conv_id, filename) still awaiting return;
    ``transcripts``: (conv_id, filename) with the transcript present (the
    reference checks <name>.txt exists; callers pass the audio-side name).
    Anti/semi joins on (conv_id, filename) — both side tables are key-only
    and broadcastable; the issues log itself is never re-scanned per file
    the way the reference's per-CSV loop is.
    """
    from .compile import MSG_PENDING

    stale = issues_log.filter(F.col("error_message") == MSG_PENDING)
    rest = issues_log.filter(F.col("error_message") != MSG_PENDING)
    resolved = (
        stale.select("conv_id", "filename")
        .join(pending_files, ["conv_id", "filename"], "left_anti")
        .join(transcripts, ["conv_id", "filename"], "left_semi")
    )
    return rest.unionByName(
        stale.join(resolved, ["conv_id", "filename"], "left_anti")
    )


def mindlamp_json_bug_adjust(
    mp3_accounting: DataFrame,
    json_accounting: DataFrame,
    issues_log: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Graft of manual_update_utilities/mindlamp_json_bug_adjust.py: undo the
    pipeline's record of JSONs hit by the upstream MindLAMP bug so the
    recovered data reprocesses.

    Returns (mp3_keep, json_keep, issues_keep):

    * MP3 accounting keeps only rows whose JSON record check passed,
    * the JSON accounting drops the records matching the orphaned MP3s
      (name transform: ``<stem>_sound....mp3`` -> ``<stem>.json``, the
      reference's ``x.split("_sound")[0] + ".json"``),
    * the issues log drops every 'MP3 found without a matching JSON record'
      row (the reference clears them wholesale to keep the log readable).

    The orphan-name side is per-subject-small; the anti-join broadcasts.
    """
    from .compile import MSG_ORPHAN_RETURN

    mp3_keep = mp3_accounting.filter(F.col("json_record_existence_check"))
    orphan_jsons = (
        mp3_accounting.filter(~F.col("json_record_existence_check"))
        .select(
            "conv_id",
            F.concat(
                F.split(F.col("found_mp3_name"), "_sound").getItem(0),
                F.lit(".json"),
            ).alias("json_filename"),
        )
        .distinct()
    )
    json_keep = json_accounting.join(
        F.broadcast(orphan_jsons), ["conv_id", "json_filename"], "left_anti"
    )
    issues_keep = issues_log.filter(F.col("error_message") != MSG_ORPHAN_RETURN)
    return mp3_keep, json_keep, issues_keep


def returned_accepted_diaries(
    audio_qc_df: DataFrame,
    requests: object = None,
    returns: object = None,
    *,
    lifecycle: DataFrame,
) -> DataFrame:
    """Accepted diaries whose transcript round-trip completed (J8 inner path).

    Join key: the TOOL-SIDE name — the canonical diary filename with the
    conversation's language marker inserted before "submission" (S10 push
    rename, journal_transcribeme_sftp_push.py:177; the pull looks the
    finished transcript up under the same marked name,
    journal_transcribeme_sftp_pull.py:52-53).

    ``lifecycle`` (a ``tool_call_lifecycle`` frame): the round-trip key set
    is read off its ``has_request AND returned`` flags."""
    # the two always-None slots keep perfbench/workloads.py's positional call
    if requests is not None or returns is not None:
        raise ValueError("requests/returns must be None; pass lifecycle=")
    accepted = audio_qc_df.filter(F.col("audio_approved_bool") == 1).withColumn(
        "_tool_key", with_language_marker(F.col("filename"), F.col("language"))
    )
    round_trip = lifecycle.filter(
        F.col("has_request") & F.col("returned")
    ).select("conv_id", F.col("request_key").alias("_tool_key"))
    return accepted.join(round_trip, ["conv_id", "_tool_key"], "left_semi").drop(
        "_tool_key"
    )


def redact_projection(turns: DataFrame) -> DataFrame:
    """Stateless per-turn redaction projection over the normalized text:
    ``text`` becomes the redacted text (NULL on a violated line),
    ``violated`` the per-line violation bit. Applied after ``gap_stats``
    and before ``text_stats``, to the turns of returned-accepted diaries
    only: by the batch heavy pass, and by the streaming foreachBatch over
    its re-read slice of the closing diaries."""
    text = normalize_text(F.col("text"))
    return turns.withColumns(
        {"text": redacted_line(text), "violated": violated_line(text)}
    )


def attach_diaries(sessioned_turns: DataFrame, diaries: DataFrame) -> DataFrame:
    """Attach diary identity columns to (already redacted) session turns.

    Broadcasts the diary side: it is 10-1000x smaller than the turn stream
    (one row per accepted+returned diary) — a sort-merge join here would
    re-sort the whole turn stream. At extreme diary counts, drop the hint
    and bucket instead."""
    diary_cols = diaries.select(*DIARY_COLS)
    return sessioned_turns.join(F.broadcast(diary_cols), DIARY_KEY, "inner")


def gap_stats(turns_with_diary: DataFrame) -> DataFrame:
    """Timestamp-side per-turn stats (NO text dependency — runs BEFORE
    redaction; the lead windows sit directly on the sessionize sort).

    The lead window partitions by conv_id ONLY and orders by (ts, turn_idx)
    — the exact sort the sessionize window upstream already established, so
    Catalyst plans NO additional sort for the whole per-turn stats chain.
    Session boundaries are detected via lead(session_id): session_id is
    ts-monotone within a conversation, so a conv-ordered lead crossing into
    the next session is exactly 'last turn of this session'."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    sec = F.col("ts").cast("double") - F.col("session_start").cast("double")
    df = turns_with_diary.withColumn("sec_from_start", sec).withColumn(
        "minutes_from_start", sec / 60.0
    )
    lead_sec = F.lead("sec_from_start").over(w)
    same_session = F.lead("session_id").over(w) == F.col("session_id")
    in_gap = F.when(same_session, lead_sec - F.col("sec_from_start"))
    # inner gap: next sentence start - this start; for the LAST sentence the
    # reference substitutes audio_duration*60 - last_start, where
    # "audio_duration" is actually overall_db (reproduced bug, see module doc)
    return df.withColumn(
        "estimated_sentence_seconds",
        F.coalesce(
            in_gap, F.col("overall_db") * 60.0 - F.col("sec_from_start")
        ),
    ).withColumn("inner_gap_seconds", in_gap)


def text_stats(redacted: DataFrame) -> DataFrame:
    """Text-side per-turn sentence metrics (pure JVM projections over the
    redacted text — no windows)."""
    df = redacted.withColumn("text_lc", F.lower(F.col("text")))
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


ROLLUP_KEYS = [
    "conv_id",
    "session_id",
    "day",
    "timeofday",
    "weekday",
    "daily_submission_number",
    "filename",
]


def diary_rollup(stats: DataFrame) -> DataFrame:
    """ONE combined per-diary aggregation feeding both the transcript-QC row
    (transcript_diary_qc.py:174-242) and the disfluency summary
    (phone_transcript_sentence_stats.py:97-118).

    Single-pass multi-sink design: the two outputs group by the same diary
    key, so computing them as one aggregation halves the shuffles over the
    per-turn stats (the widest intermediate) — at 100 TB the turn table is
    the cost center, every extra traversal of it is the bottleneck.
    """
    gap_per_word = F.col("inner_gap_seconds") / F.col("word_count")
    return stats.groupBy(*ROLLUP_KEYS).agg(
        F.countDistinct("role").cast("int").alias("speakerID_count"),
        F.sum(F.when(F.col("role") == "S1", 1).otherwise(0))
        .cast("int")
        .alias("S1_sentence_count"),
        F.count("*").cast("int").alias("total_sentence_count"),
        F.sum("word_count").alias("_wc_sum"),
        F.min("word_count").alias("min_words_in_sen"),
        F.max("word_count").alias("max_words_in_sen"),
        F.sum("inaudible_count").cast("int").alias("inaudible_count"),
        F.sum("questionable_count").cast("int").alias("questionable_count"),
        F.sum("other_bracketed_words")
        .cast("int")
        .alias("other_bracketed_notation_count"),
        F.sum("redactions").cast("int").alias("redacted_count"),
        F.round(F.max("minutes_from_start"), 3).alias("final_timestamp_minutes"),
        F.round(F.min("inner_gap_seconds"), 3).alias("min_timestamp_space_seconds"),
        F.round(F.max("inner_gap_seconds"), 3).alias("max_timestamp_space_seconds"),
        F.round(F.min(gap_per_word), 3).alias("min_timestamp_space_per_word"),
        F.round(F.max(gap_per_word), 3).alias("max_timestamp_space_per_word"),
        F.min("is_ascii").alias("_all_ascii"),
        F.first("overall_db").alias("_overall_db"),
        F.sum("nonverbal_edits").cast("double").alias("nonverbal_edits_count"),
        F.sum("verbal_edits").cast("double").alias("verbal_edits_count"),
        F.sum("repeats").cast("double").alias("repeats_count"),
        F.sum("restarts").cast("double").alias("restarts_count"),
    )


def tqc_from_rollup(rollup: DataFrame) -> DataFrame:
    """Transcript-QC row set from the combined rollup."""
    return rollup.select(
        *ROLLUP_KEYS,
        "speakerID_count",
        "S1_sentence_count",
        "total_sentence_count",
        F.col("_wc_sum").cast("int").alias("word_count"),
        "min_words_in_sen",
        "max_words_in_sen",
        "inaudible_count",
        "questionable_count",
        "other_bracketed_notation_count",
        "redacted_count",
        "final_timestamp_minutes",
        "min_timestamp_space_seconds",
        "max_timestamp_space_seconds",
        "min_timestamp_space_per_word",
        "max_timestamp_space_per_word",
        F.when(F.col("_all_ascii"), F.lit("ASCII"))
        .otherwise(F.lit("UTF-8"))
        .alias("txt_encoding_type"),
        F.concat(
            F.regexp_replace("filename", "\\.wav$", ""), F.lit("_REDACTED.csv")
        ).alias("redacted_csv_filename"),
    )


def disf_from_rollup(rollup: DataFrame) -> DataFrame:
    """Disfluency summary from the combined rollup.

    Count columns are doubles (reference builds them with np.nansum) and
    ``length_minutes`` carries the overall_db value (reproduced bug)."""
    total = (
        F.col("nonverbal_edits_count")
        + F.col("verbal_edits_count")
        + F.col("repeats_count")
        + F.col("restarts_count")
    )
    return rollup.select(
        "conv_id",
        "session_id",
        "day",
        "daily_submission_number",
        "filename",
        F.col("_overall_db").alias("length_minutes"),
        F.col("_wc_sum").cast("double").alias("total_word_count"),
        "nonverbal_edits_count",
        "verbal_edits_count",
        "repeats_count",
        "restarts_count",
    ).withColumns(
        {
            "transcript_csv_name": F.concat(
                F.regexp_replace("filename", "\\.wav$", ""),
                F.lit("_REDACTED_withSentenceStats.csv"),
            ),
            "total_disfluencies": total,
            "nonverbal_edits_per_word": F.col("nonverbal_edits_count")
            / F.col("total_word_count"),
            "verbal_edits_per_word": F.col("verbal_edits_count")
            / F.col("total_word_count"),
            "repeats_per_word": F.col("repeats_count") / F.col("total_word_count"),
            "restarts_per_word": F.col("restarts_count") / F.col("total_word_count"),
            "disfluencies_per_minute": total / F.col("length_minutes"),
        }
    )


class TranscriptSide(NamedTuple):
    turn_stats: DataFrame
    violated: DataFrame
    transcript_qc: DataFrame
    disfluencies: DataFrame
    persisted: list[DataFrame]


def transcript_side(stats: DataFrame) -> TranscriptSide:
    """The transcript outputs of a per-turn stats frame (``text_stats`` over
    ``gap_stats``-windowed, redacted turns of returned-accepted diaries):
    diaries with any violated line are set aside (``violated``: their
    ``DIARY_KEY`` + filename), the clean turns give the per-turn sink and
    one combined rollup gives transcript QC and the disfluency summary.

    Shared by the batch DAG (over its staged turns) and the streaming
    foreachBatch (over the re-read slice of its closing diaries).
    ``persisted`` holds the two diary-grain frames cached here; a caller
    that outlives the outputs unpersists them."""
    # diary-grain and consumed by clean, the violation row set AND two of
    # the issues reconciliations — persist so the stats frame is scanned
    # once for it, not once per consumer. The flag is a diary-level
    # aggregate broadcast-joined back onto the turns: a full-width window
    # max would sort the wide (text-bearing) rows.
    flags = stats.groupBy(*DIARY_KEY).agg(
        F.max("violated").alias("_any_violated"),
        F.first("filename").alias("filename"),
    ).persist()
    violated = flags.filter(F.col("_any_violated")).select(*DIARY_KEY, "filename")
    clean = (
        stats.join(F.broadcast(flags.drop("filename")), DIARY_KEY, "left")
        .filter(~F.col("_any_violated"))
        .drop("_any_violated")
    )
    # ONE combined per-diary aggregation feeds both transcript QC and the
    # disfluency summary (one shuffle over the turn stats instead of two)
    rollup = diary_rollup(clean).persist()  # diary-level: small
    return TranscriptSide(
        # no global sort: the (conv_id, turn_idx) parity ordering is applied
        # by consumers/tests; a range shuffle of the widest output is wasted
        turn_stats=clean.select(*schemas.TURN_STATS.fieldNames()),
        violated=violated,
        transcript_qc=tqc_from_rollup(rollup),
        disfluencies=disf_from_rollup(rollup),
        persisted=[flags, rollup],
    )
