"""Final row-set compilation: accepted / rejected / flagged (issues).

Graft of diary_qc_compilation.py (accepted + rejected sets) and
journal_outputs_error_check.py + subject_summaries_update.sh (the issues log).
Error-message strings are preserved verbatim from the reference — they are
part of the output contract (SURVEY.md §7.3.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.naming import strip_language_marker, with_language_marker
from .transcript import pending_return, retries_exhausted

# reference message strings (journal_outputs_error_check.py:76-182;
# phone_transcript_redaction.py:70)
MSG_PENDING = "File has been pending return from TranscribeMe for over 2 weeks now"
MSG_ORPHAN_RETURN = "MP3 found without a matching JSON record"
MSG_REQUEST_NO_QC = (
    "File appears to have been sent to TranscribeMe but can not find a unique "
    "entry in audio QC for it now"
)
MSG_MISSING_REQUEST = "File should exist based on MindLAMP JSON data but no MP3 actually found"
MSG_REDACTION_VIOLATION = "Redaction convention violated in file, please review manually"
# S8 exhausted-retries flag (subject_summaries_update.sh:141, verbatim)
MSG_UPLOAD_FAILED = "TranscribeMe SFTP upload failed"
# output-reconciliation flags (journal_outputs_error_check.py:76,84 / :151,159;
# subject_summaries_update.sh:264 — verbatim). These are drift detectors over
# the engine's OWN outputs: on a healthy run all three anti-joins are empty.
MSG_COMPLETED_NO_UNIQUE_QC = (
    "File appears to have fully completed pipeline but can not find a unique "
    "entry in audio QC for it now"
)
MSG_REDACTED_CSV_NO_TQC = (
    "File has redacted CSV version available but transcript QC that should "
    "have been computed from that is not found"
)
MSG_COMPLETED_NO_TRANSCRIPT = (
    "Audio marked as completed but pulled transcript not found"
)

REJECTED_COLS = [
    "conv_id",
    "day",
    "daily_submission_number",
    "overall_db",
    "length_minutes",
    "submit_hour_int",
    "subject_consent_month",
]

# column order of the merged accepted set (graft of README.md:595-611 /
# diary_qc_compilation.py:136-185)
ACCEPTED_COLS = [
    "conv_id",
    "day",
    "timeofday",
    "weekday",
    "daily_submission_number",
    "submit_hour_int",
    "length_minutes",
    "overall_db",
    "mean_flatness",
    "subject_consent_month",
    "audio_approved_bool",
    # transcript QC block
    "speakerID_count",
    "S1_sentence_count",
    "total_sentence_count",
    "word_count",
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
    "txt_encoding_type",
    "redacted_csv_filename",
    # disfluency block
    "transcript_csv_name",
    "nonverbal_edits_count",
    "verbal_edits_count",
    "repeats_count",
    "restarts_count",
    "total_disfluencies",
    "nonverbal_edits_per_word",
    "verbal_edits_per_word",
    "repeats_per_word",
    "restarts_per_word",
    "disfluencies_per_minute",
    # metadata block (carried on the diary row; reference re-joins it, J3/J4)
    "submit_minute_int",
    "local_time_converted",
    "timezone_used",
    "consent_date_at_accounting",
    "expected_language",
    "proposed_processed_name",
    "date_mp3_first_detected",
]


def rejected_set(audio_qc_df: DataFrame) -> DataFrame:
    """diary_qc_compilation.py:110-120 — the rejected-audio data log."""
    return (
        audio_qc_df.filter(F.col("audio_approved_bool") != 1)
        .select(*REJECTED_COLS)
        # within-partition sort only: a global orderBy would range-shuffle the
        # whole output with no semantic need (files stay sorted; consumers
        # needing total order sort the final small CSV)
        .sortWithinPartitions("conv_id", "day", "daily_submission_number")
    )


def accepted_set(
    audio_qc_df: DataFrame, transcript_qc_df: DataFrame, disfluencies_df: DataFrame
) -> DataFrame:
    """diary_qc_compilation.py:136-185 — accepted diaries with full QC+metadata.

    J1: audio QC left-join transcript QC on the identity columns;
    J2: left-join disfluencies (redundant columns dropped first);
    J3/J4 metadata joins are unnecessary here because the engine carries the
    accounting columns on the diary row (same result, two fewer shuffles) —
    the join operators themselves are exercised in __spark_entry__ queries.
    P8: keep daily_submission_number == 1, dedup days.
    """
    acc = audio_qc_df.filter(F.col("audio_approved_bool") == 1)
    t = transcript_qc_df.drop("session_id", "filename")
    merged = acc.join(
        t, ["conv_id", "day", "timeofday", "weekday", "daily_submission_number"], "left"
    )
    d = disfluencies_df.drop(
        "session_id", "filename", "length_minutes", "total_word_count"
    )
    merged = merged.join(d, ["conv_id", "day", "daily_submission_number"], "left")
    merged = merged.withColumns(
        {
            "local_time_converted": F.date_format("local_time", "yyyy-MM-dd HH:mm:ss"),
            "timezone_used": F.col("timezone"),
            "consent_date_at_accounting": F.date_format("consent_date", "yyyy-MM-dd"),
            "expected_language": F.col("language"),
            "proposed_processed_name": F.col("filename"),
            "date_mp3_first_detected": F.date_format(F.to_date("session_end"), "yyyy-MM-dd"),
        }
    )
    merged = merged.filter(
        F.col("day").isNotNull() & F.col("daily_submission_number").isNotNull()
    ).filter(F.col("daily_submission_number") == 1)
    w = Window.partitionBy("conv_id", "day").orderBy("daily_submission_number", "local_time")
    merged = merged.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return merged.select(*ACCEPTED_COLS).sortWithinPartitions("conv_id", "day")


def issues_set(
    audio_qc_df: DataFrame,
    lifecycle: DataFrame,
    violated_diaries: DataFrame,
    cfg: PipelineConfig,
    transcript_qc: DataFrame,
    disfluencies: DataFrame,
    turn_stats: DataFrame,
) -> DataFrame:
    """The major-issues log (flagged row set), built the way the reference
    sweeps its files: every rule checked against one row, then deduped on
    the issue identity (journal_outputs_error_check.py:76-214).

    ``lifecycle`` is a ``transcript.tool_call_lifecycle`` frame — the one
    keyed rollup of the tool-call stream. It is joined FULL OUTER to the
    accepted diaries on the marked tool-side key, and the six tool-call
    families are one rule table over that frame:

    * pending (J7), orphan return, request with no QC, missing request (J6),
    * upload failed: the S8 push lifecycle is attempt-aware — a key with >=
      cfg.max_push_attempts request rows and no return exhausted its
      retries (journal_transcribeme_sftp_push.py:166-191). It is flagged
      'TranscribeMe SFTP upload failed' under its LOCAL name (the file
      never left audio_to_send, subject_summaries_update.sh:127-143) and is
      EXCLUDED from the pending / no-QC reconciliations, which track files
      that actually reached the tool,
    * completed audio vs pulled transcript (subject_summaries_update.sh:
      264): an accepted diary whose tool round trip RETURNED (the graft of
      completed_audio membership) must have per-turn transcript rows.
      Redaction-violated diaries are excluded — their pulled txt exists in
      the reference (the redaction step discards the CSV downstream), and
      they are already flagged 'pre-redaction'.

    Two more OUTPUT-RECONCILIATION families are uniqueness checks (both
    empty on a healthy run — they detect output drift, the reference's
    post-hoc consistency sweep over its own CSV/file artifacts):

    * completed-pipeline vs audio QC uniqueness (journal_outputs_error_
      check.py:76,84): every transcript-QC row evidences a wav that
      completed the full pipeline; its (conv, day, submission) must match
      EXACTLY ONE audio QC row (a per-micro-batch submission rank upstream
      — SURVEY §7.3.1 — is precisely what can mint duplicates),
    * redacted CSV vs transcript QC (journal_outputs_error_check.py:151,
      159): each disfluency-summary row evidences the redacted CSV the
      sentence-stats step consumed; transcript QC computed from that same
      CSV must have exactly one row for the key.

    The remaining reference crash-stage flags (ffmpeg failed, temp_audio
    leftover, 'Audio QC function crashed', 'Calculation of transcript stats
    per sentence failed') attribute PER-FILE PROCESS crashes; a declarative
    plan either computes a stage for every surviving row or fails the job —
    there is no per-row crash state to reconcile, so they are documented
    inapplicable (ARCHITECTURE §2 notes).

    O4 (keep the earliest detection date per issue identity) reduces to
    ``distinct``: every row of one run carries the same compute date.

    One frame, not a subplan per family: row-filtered copies of the rollup
    are pruned differently per consumer, so Catalyst cannot reuse them and
    each copy re-scans and re-aggregates the tool calls."""
    today = F.lit(cfg.compute_date_str)
    diary_key = ["conv_id", "day", "daily_submission_number"]
    # tool-side reconciliation happens under the language-marked exchange
    # name (S10): requests/returns carry it from the SFTP side, so the
    # engine's accepted keys are marked before matching. Redaction-violation
    # rows keep the LOCAL name — pulled transcripts are stored unmarked
    # (journal_transcribeme_sftp_pull.py:53).
    accepted_keys = audio_qc_df.filter(F.col("audio_approved_bool") == 1).select(
        "conv_id",
        with_language_marker(F.col("filename"), F.col("language")).alias("request_key"),
        "has_tool_tag",
        "day",
        "daily_submission_number",
        "filename",
        F.lit(True).alias("_accepted"),
    )
    # upload failed is flagged under the LOCAL name: the stuck file sits in
    # audio_to_send before the S10 rename. Language comes from the
    # conversation's QC rows; with none (e.g. consent missing) the marked
    # key is kept — a documented fallback, the flag still identifies the
    # submission. ONE language per conv (min), so a conversation with QC
    # rows in several languages cannot fan the exhausted key into multiple
    # upload-failed rows; the pandas oracle picks the same min.
    conv_lang = audio_qc_df.groupBy("conv_id").agg(
        F.min("language").alias("language")
    )
    # USING joins: every side shares lineage with audio_qc_df, and a
    # same-name equi-join on column expressions would hit
    # AMBIGUOUS_REFERENCE. One row per (lifecycle key | accepted diary);
    # the presence flags are NULL where a side has no row.
    frame = (
        lifecycle.join(accepted_keys, ["conv_id", "request_key"], "full")
        .join(F.broadcast(conv_lang), "conv_id", "left")
        .join(
            violated_diaries.select(
                "conv_id", "filename", F.lit(True).alias("_violated")
            ),
            ["conv_id", "filename"],
            "left",
        )
        .join(
            turn_stats.select(*diary_key).distinct()
            .withColumn("_has_turns", F.lit(True)),
            diary_key,
            "left",
        )
    )

    def present(name: str):
        return F.coalesce(F.col(name), F.lit(False))

    accepted, has_request, returned = (
        present("_accepted"), present("has_request"), present("returned")
    )
    exhausted = F.coalesce(retries_exhausted(cfg), F.lit(False))
    # reconciliations below track files that reached the tool — a never-
    # uploaded file is neither pending nor accountable on the tool side
    reached_tool = has_request & ~exhausted
    marked = F.col("request_key")
    rules = [
        # J7: request with no return, older than the deadline
        (pending_return(cfg, today), marked, "pre-transcript", MSG_PENDING),
        # J6: return with no request (orphan)
        (returned & ~has_request, marked, "pre-wav", MSG_ORPHAN_RETURN),
        # J6: request whose diary is not in the accepted audio QC set
        (reached_tool & ~accepted, marked, "post-audioQC", MSG_REQUEST_NO_QC),
        # J6: accepted tool-tagged diary with no request record
        (
            accepted & present("has_tool_tag") & ~has_request,
            marked, "pre-wav", MSG_MISSING_REQUEST,
        ),
        # S8: retries exhausted, under the LOCAL name (see conv_lang)
        (
            exhausted,
            strip_language_marker(marked, F.col("language")),
            "pre-transcript", MSG_UPLOAD_FAILED,
        ),
        # completed (round trip returned), not violated, no turn rows
        (
            accepted & has_request & returned & ~present("_violated")
            & ~present("_has_turns"),
            F.col("filename"), "pre-transcript", MSG_COMPLETED_NO_TRANSCRIPT,
        ),
    ]
    rule_flags = F.array(*[
        F.when(cond, F.struct(
            key.alias("filename"),
            F.lit(stage).alias("file_stage"),
            F.lit(msg).alias("error_message"),
        ))
        for cond, key, stage, msg in rules
    ])
    # the array gets its own Project: next to a sibling column inside the
    # explode's select, the Generate would re-derive it per output row.
    # explode_outer: the array has one slot per rule, never empty, and a
    # plain explode makes the optimizer re-derive it in a size() > 0 filter
    tool_issues = (
        frame.select("conv_id", rule_flags.alias("_flags"))
        .select("conv_id", F.explode_outer("_flags").alias("_f"))
        .filter(F.col("_f").isNotNull())
        .select(today.alias("date_detected"), "conv_id", "_f.*")
    )

    def flag(df: DataFrame, stage: str, msg: str) -> DataFrame:
        return df.select(
            today.alias("date_detected"),
            "conv_id",
            F.col("request_key").alias("filename"),
            F.lit(stage).alias("file_stage"),
            F.lit(msg).alias("error_message"),
        )

    # redaction violations (phone_transcript_redaction.py:69-72)
    violation = flag(
        violated_diaries.select("conv_id", F.col("filename").alias("request_key")),
        "pre-redaction",
        MSG_REDACTION_VIOLATION,
    )

    # ---- uniqueness reconciliations (see docstring). Key columns are
    # renamed on the aggregate side: both sides share lineage with
    # audio_qc_df and a same-name equi-join would hit AMBIGUOUS_REFERENCE.
    # All bases are diary-grain (small) — AQE broadcasts the joins.
    def _counts(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(
            *[F.col(c).alias(f"_{name}_{c}") for c in diary_key]
        ).agg(F.count("*").alias(f"_{name}_n"))

    def _not_unique(base: DataFrame, counts: DataFrame, name: str) -> DataFrame:
        cond = [F.col(c) == F.col(f"_{name}_{c}") for c in diary_key]
        return (
            base.join(counts, cond, "left")
            .filter(
                F.col(f"_{name}_n").isNull() | (F.col(f"_{name}_n") != 1)
            )
            .select("conv_id", "request_key")
        )

    base_a = transcript_qc.select(
        *diary_key, F.col("filename").alias("request_key")
    ).distinct()
    base_b = disfluencies.select(
        *diary_key,
        F.concat(
            F.regexp_replace("filename", "\\.wav$", ""),
            F.lit("_REDACTED.csv"),
        ).alias("request_key"),
    ).distinct()
    all_issues = tool_issues.unionByName(violation).unionByName(
        flag(
            _not_unique(base_a, _counts(audio_qc_df, "aqc"), "aqc"),
            "post-audioQC",
            MSG_COMPLETED_NO_UNIQUE_QC,
        )
    ).unionByName(
        flag(
            _not_unique(base_b, _counts(transcript_qc, "tqc"), "tqc"),
            "pre-transcriptQC",
            MSG_REDACTED_CSV_NO_TQC,
        )
    )
    # O4: one compute date per run, so keep-earliest is distinct
    return all_issues.distinct().sortWithinPartitions(
        "date_detected", "conv_id", "filename", "file_stage"
    )
