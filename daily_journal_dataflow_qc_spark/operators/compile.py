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
    transcript_qc: DataFrame | None = None,
    disfluencies: DataFrame | None = None,
    turn_stats: DataFrame | None = None,
) -> DataFrame:
    """The major-issues log (flagged row set), deduped keeping the earliest
    detection date (journal_outputs_error_check.py:199-214, O4).

    ``lifecycle`` is a ``transcript.tool_call_lifecycle`` frame — the one
    keyed rollup of the tool-call stream every request/return family reads.
    The S8 push lifecycle is attempt-aware: a key with >=
    cfg.max_push_attempts request rows and no return exhausted its retries
    (journal_transcribeme_sftp_push.py:166-191)
    — it is flagged 'TranscribeMe SFTP upload failed' under its LOCAL name
    (the file never left audio_to_send, subject_summaries_update.sh:127-143)
    and is EXCLUDED from the pending / no-QC reconciliations, which track
    files that actually reached the tool.

    When the transcript-side outputs are given, three OUTPUT-RECONCILIATION
    families run (all empty on a healthy run — they detect output drift, the
    reference's post-hoc consistency sweep over its own CSV/file artifacts):

    * completed-pipeline vs audio QC uniqueness (journal_outputs_error_
      check.py:76,84): every transcript-QC row evidences a wav that
      completed the full pipeline; its (conv, day, submission) must match
      EXACTLY ONE audio QC row (a per-micro-batch submission rank upstream
      — SURVEY §7.3.1 — is precisely what can mint duplicates),
    * redacted CSV vs transcript QC (journal_outputs_error_check.py:151,
      159): each disfluency-summary row evidences the redacted CSV the
      sentence-stats step consumed; transcript QC computed from that same
      CSV must have exactly one row for the key,
    * completed audio vs pulled transcript (subject_summaries_update.
      sh:264): an accepted diary whose tool round trip RETURNED (the graft
      of completed_audio membership) must have per-turn transcript rows.
      Redaction-violated diaries are excluded — their pulled txt exists in
      the reference (the redaction step discards the CSV downstream), and
      they are already flagged 'pre-redaction'.

    The remaining reference crash-stage flags (ffmpeg failed, temp_audio
    leftover, 'Audio QC function crashed', 'Calculation of transcript stats
    per sentence failed') attribute PER-FILE PROCESS crashes; a declarative
    plan either computes a stage for every surviving row or fails the job —
    there is no per-row crash state to reconcile, so they are documented
    inapplicable (ARCHITECTURE §2 notes).

    The pipeline shares one (unpersisted) lifecycle copy across the
    round-trip semi-join and every family here. Each request/return side is
    a row-filter of that rollup, not a per-family ``dedup_tool_calls``
    window derivation, which Catalyst cannot exchange-reuse across the
    families: per-consumer pruning breaks canonical equality, so the
    un-restructured plan carried 56 tool-call scans and 45 exchanges."""
    today = F.lit(cfg.compute_date_str)
    # tool-side reconciliation happens under the language-marked exchange
    # name (S10): requests/returns carry it from the SFTP side, so the
    # engine's accepted keys are marked before matching. Redaction-violation
    # rows keep the LOCAL name — pulled transcripts are stored unmarked
    # (journal_transcribeme_sftp_pull.py:53).
    accepted_keys = audio_qc_df.filter(F.col("audio_approved_bool") == 1).select(
        "conv_id",
        with_language_marker(F.col("filename"), F.col("language")).alias("request_key"),
    )
    # every request/return side below is a row-filter of the ONE keyed
    # rollup: dedup_tool_calls membership == the kind-existence flags,
    # the first-arrival ts == the null-first struct-min (see
    # tool_call_lifecycle), and the anti-join-vs-exhausted == the
    # negated exhausted predicate (lifecycle is one row per key).
    # returned/n_attempts are non-null wherever has_request is true, so
    # the negation cannot null-drop a key the anti-join would keep.
    _exh = (~F.col("returned")) & (
        F.col("n_attempts") >= cfg.max_push_attempts
    )
    # reconciliations below track files that reached the tool — a never-
    # uploaded file is neither pending nor accountable on the tool side
    req = lifecycle.filter(F.col("has_request") & ~_exh).select(
        "conv_id", "request_key", F.col("first_request_ts").alias("ts")
    )
    req_all = lifecycle.filter("has_request").select(
        "conv_id", "request_key"
    )  # request EXISTENCE checks (missing-request)
    exhausted = lifecycle.filter(_exh).select("conv_id", "request_key")
    # req-vs-ret relations collapse to row predicates — both sides live
    # on the SAME lifecycle row, so they are filters, not anti/semi joins
    no_return = lifecycle.filter(
        F.col("has_request") & ~_exh & ~F.col("returned")
    ).select("conv_id", "request_key", F.col("first_request_ts").alias("ts"))
    orphan_src = lifecycle.filter(
        F.col("returned") & ~F.col("has_request")
    ).select("conv_id", "request_key")
    round_trip = lifecycle.filter(
        F.col("has_request") & F.col("returned")
    ).select("conv_id", "request_key")
    # flag under the LOCAL name: the stuck file sits in audio_to_send
    # before the S10 rename. Language comes from the conversation's QC
    # rows; with none (e.g. consent missing) the marked key is kept —
    # a documented fallback, the flag still identifies the submission.
    # ONE language per conv (min), so a conversation with QC rows in
    # several languages cannot fan the exhausted key into multiple
    # upload-failed rows; the pandas oracle picks the same min.
    conv_lang = audio_qc_df.groupBy("conv_id").agg(
        F.min("language").alias("language")
    )
    upload_failed = exhausted.join(F.broadcast(conv_lang), "conv_id", "left").select(
        "conv_id",
        strip_language_marker(F.col("request_key"), F.col("language")).alias(
            "request_key"
        ),
    )

    def flag(df: DataFrame, stage: str, msg: str) -> DataFrame:
        return df.select(
            today.alias("date_detected"),
            "conv_id",
            F.col("request_key").alias("filename"),
            F.lit(stage).alias("file_stage"),
            F.lit(msg).alias("error_message"),
        )

    # J7: request with no return, older than the deadline -> pending flag
    pending = flag(
        no_return.filter(
            F.datediff(F.to_date(today), F.to_date("ts")) >= cfg.pending_deadline_days
        ),
        "pre-transcript",
        MSG_PENDING,
    )
    # J6: return with no request (orphan)
    orphan = flag(orphan_src, "pre-wav", MSG_ORPHAN_RETURN)
    # J6: request whose diary is not in the accepted audio QC set
    no_qc = flag(
        req.join(accepted_keys, ["conv_id", "request_key"], "left_anti"),
        "post-audioQC",
        MSG_REQUEST_NO_QC,
    )
    # J6: accepted tool-tagged diary with no request record
    missing_req = flag(
        audio_qc_df.filter(
            (F.col("audio_approved_bool") == 1) & F.col("has_tool_tag")
        )
        .select(
            "conv_id",
            with_language_marker(F.col("filename"), F.col("language")).alias(
                "request_key"
            ),
        )
        .join(req_all, ["conv_id", "request_key"], "left_anti"),
        "pre-wav",
        MSG_MISSING_REQUEST,
    )
    # redaction violations (phone_transcript_redaction.py:69-72)
    violation = flag(
        violated_diaries.select("conv_id", F.col("filename").alias("request_key")),
        "pre-redaction",
        MSG_REDACTION_VIOLATION,
    )

    all_issues = pending.unionByName(orphan).unionByName(no_qc).unionByName(
        missing_req
    ).unionByName(violation).unionByName(
        flag(upload_failed, "pre-transcript", MSG_UPLOAD_FAILED)
    )

    # ---- output reconciliations (see docstring). Key columns are renamed on
    # the aggregate side: both sides share lineage with audio_qc_df and a
    # same-name equi-join would hit AMBIGUOUS_REFERENCE. All bases are
    # diary-grain (small) — AQE broadcasts the joins.
    diary_key = ["conv_id", "day", "daily_submission_number"]

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

    if transcript_qc is not None:
        base_a = transcript_qc.select(
            *diary_key, F.col("filename").alias("request_key")
        ).distinct()
        all_issues = all_issues.unionByName(
            flag(
                _not_unique(base_a, _counts(audio_qc_df, "aqc"), "aqc"),
                "post-audioQC",
                MSG_COMPLETED_NO_UNIQUE_QC,
            )
        )
    if disfluencies is not None and transcript_qc is not None:
        base_b = disfluencies.select(
            *diary_key,
            F.concat(
                F.regexp_replace("filename", "\\.wav$", ""),
                F.lit("_REDACTED.csv"),
            ).alias("request_key"),
        ).distinct()
        all_issues = all_issues.unionByName(
            flag(
                _not_unique(base_b, _counts(transcript_qc, "tqc"), "tqc"),
                "pre-transcriptQC",
                MSG_REDACTED_CSV_NO_TQC,
            )
        )
    if turn_stats is not None:
        accepted_marked = audio_qc_df.filter(
            F.col("audio_approved_bool") == 1
        ).select(
            *diary_key,
            "filename",
            with_language_marker(F.col("filename"), F.col("language")).alias(
                "_marked"
            ),
        )
        # round-trip membership is ONE key set (the request/return
        # existence conjunction), not two semi-joins
        completed = accepted_marked.join(
            round_trip.select("conv_id", F.col("request_key").alias("_marked")),
            ["conv_id", "_marked"],
            "left_semi",
        )
        completed = completed.join(
            violated_diaries.select("conv_id", "filename"),
            ["conv_id", "filename"],
            "left_anti",
        )
        ts_ids = turn_stats.select(
            *[F.col(c).alias(f"_ts_{c}") for c in diary_key]
        ).distinct()
        bad_c = (
            completed.join(
                ts_ids,
                [F.col(c) == F.col(f"_ts_{c}") for c in diary_key],
                "left_anti",
            )
            .select("conv_id", F.col("filename").alias("request_key"))
        )
        all_issues = all_issues.unionByName(
            flag(bad_c, "pre-transcript", MSG_COMPLETED_NO_TRANSCRIPT)
        )
    # O4: keep-earliest dedup on the full issue identity
    w = Window.partitionBy(
        "conv_id", "filename", "file_stage", "error_message"
    ).orderBy("date_detected")
    return (
        all_issues.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .sortWithinPartitions("date_detected", "conv_id", "filename", "file_stage")
    )
