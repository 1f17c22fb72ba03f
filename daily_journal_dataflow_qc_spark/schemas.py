"""Explicit StructType schemas for the engine's input tables and QC outputs.

Input shapes follow BASELINE.json's ``input_hint`` (transcripts) and
FIXTURES.md (tool_calls, conv_meta). Output shapes re-express the reference's
CSV catalog (SURVEY.md §1.2) keyed by conv_id instead of site+subject, and
are decided here alone: every batch ``PipelineOutputs`` field and every
session-QC stream sink selects its layout's columns, in order. Internal state
(the tool-call key store) and the validator's ``FLAG_SCHEMA`` are not outputs.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- inputs

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

TOOL_CALLS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("request_key", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # request | return
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("payload", T.StringType(), True),
    ]
)

CONV_META = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("consent_date", T.DateType(), True),
        T.StructField("timezone", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("db_level", T.DoubleType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("flatness", T.DoubleType(), True),
    ]
)

# ---------------------------------------------------------------- outputs

# graft of *_diaryAudioQC.csv (reference audio_diary_qc.py:25)
_AUDIO_QC_CSV = [
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("day", T.IntegerType(), True),
    T.StructField("timeofday", T.StringType(), True),
    T.StructField("weekday", T.IntegerType(), True),
    T.StructField("daily_submission_number", T.IntegerType(), True),
    T.StructField("submit_hour_int", T.IntegerType(), True),
    T.StructField("length_minutes", T.DoubleType(), True),
    T.StructField("overall_db", T.DoubleType(), True),
    T.StructField("mean_flatness", T.DoubleType(), True),
    T.StructField("subject_consent_month", T.StringType(), True),
    T.StructField("audio_approved_bool", T.IntegerType(), True),
]
# ... plus the diary keys readers use: the canonical filename, the session
# start (a diary's identity across micro-batches) and the turn count
AUDIO_QC = T.StructType(
    _AUDIO_QC_CSV
    + [
        T.StructField("filename", T.StringType(), True),
        T.StructField("session_start", T.TimestampType(), True),
        T.StructField("n_turns", T.LongType(), True),
    ]
)

# graft of *_diaryTranscriptQC.csv (reference transcript_diary_qc.py:16-22)
TRANSCRIPT_QC = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("day", T.IntegerType(), True),
        T.StructField("timeofday", T.StringType(), True),
        T.StructField("weekday", T.IntegerType(), True),
        T.StructField("daily_submission_number", T.IntegerType(), True),
        T.StructField("speakerID_count", T.IntegerType(), True),
        T.StructField("S1_sentence_count", T.IntegerType(), True),
        T.StructField("total_sentence_count", T.IntegerType(), True),
        T.StructField("word_count", T.IntegerType(), True),
        T.StructField("min_words_in_sen", T.IntegerType(), True),
        T.StructField("max_words_in_sen", T.IntegerType(), True),
        T.StructField("inaudible_count", T.IntegerType(), True),
        T.StructField("questionable_count", T.IntegerType(), True),
        T.StructField("other_bracketed_notation_count", T.IntegerType(), True),
        T.StructField("redacted_count", T.IntegerType(), True),
        T.StructField("final_timestamp_minutes", T.DoubleType(), True),
        T.StructField("min_timestamp_space_seconds", T.DoubleType(), True),
        T.StructField("max_timestamp_space_seconds", T.DoubleType(), True),
        T.StructField("min_timestamp_space_per_word", T.DoubleType(), True),
        T.StructField("max_timestamp_space_per_word", T.DoubleType(), True),
        T.StructField("txt_encoding_type", T.StringType(), True),
        T.StructField("redacted_csv_filename", T.StringType(), True),
    ]
)

# graft of per-turn *_withSentenceStats.csv
# (reference phone_transcript_sentence_stats.py:163-217)
TURN_STATS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("day", T.IntegerType(), True),
        T.StructField("daily_submission_number", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),  # redacted
        T.StructField("word_count", T.IntegerType(), True),
        T.StructField("inaudibles_and_questionables", T.IntegerType(), True),
        T.StructField("other_bracketed_words", T.IntegerType(), True),
        T.StructField("redactions", T.IntegerType(), True),
        T.StructField("estimated_sentence_seconds", T.DoubleType(), True),
        T.StructField("nonverbal_edits", T.IntegerType(), True),
        T.StructField("verbal_edits", T.IntegerType(), True),
        T.StructField("stutter_repeats", T.IntegerType(), True),
        T.StructField("word_repeats", T.IntegerType(), True),
        T.StructField("repeats", T.IntegerType(), True),
        T.StructField("restarts", T.IntegerType(), True),
    ]
)

# graft of *_diaryDisfluencies.csv (phone_transcript_sentence_stats.py:101-118)
DISFLUENCIES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("transcript_csv_name", T.StringType(), True),
        T.StructField("day", T.IntegerType(), True),
        T.StructField("daily_submission_number", T.IntegerType(), True),
        T.StructField("length_minutes", T.DoubleType(), True),
        T.StructField("total_word_count", T.DoubleType(), True),
        T.StructField("nonverbal_edits_count", T.DoubleType(), True),
        T.StructField("verbal_edits_count", T.DoubleType(), True),
        T.StructField("repeats_count", T.DoubleType(), True),
        T.StructField("restarts_count", T.DoubleType(), True),
        T.StructField("total_disfluencies", T.DoubleType(), True),
        T.StructField("nonverbal_edits_per_word", T.DoubleType(), True),
        T.StructField("verbal_edits_per_word", T.DoubleType(), True),
        T.StructField("repeats_per_word", T.DoubleType(), True),
        T.StructField("restarts_per_word", T.DoubleType(), True),
        T.StructField("disfluencies_per_minute", T.DoubleType(), True),
    ]
)

# graft of *_audioJournalMajorIssuesLog.csv (journal_outputs_error_check.py:18)
ISSUES = T.StructType(
    [
        T.StructField("date_detected", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("filename", T.StringType(), True),
        T.StructField("file_stage", T.StringType(), True),
        T.StructField("error_message", T.StringType(), True),
    ]
)

# graft of *_audioQCRejectedJournals_dataLog.csv (diary_qc_compilation.py:117-118)
REJECTED = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("day", T.IntegerType(), True),
        T.StructField("daily_submission_number", T.IntegerType(), True),
        T.StructField("overall_db", T.DoubleType(), True),
        T.StructField("length_minutes", T.DoubleType(), True),
        T.StructField("submit_hour_int", T.IntegerType(), True),
        T.StructField("subject_consent_month", T.StringType(), True),
    ]
)


def _without(schema: T.StructType, *names: str) -> list[T.StructField]:
    return [f for f in schema.fields if f.name not in names]


# the merged accepted set (graft of README.md:595-611 /
# diary_qc_compilation.py:136-185): the audio QC row, the transcript QC and
# disfluency blocks less their join keys, then the metadata block (carried
# on the diary row; the reference re-joins it, J3/J4)
ACCEPTED = T.StructType(
    _AUDIO_QC_CSV
    + _without(
        TRANSCRIPT_QC, "conv_id", "day", "timeofday", "weekday",
        "daily_submission_number",
    )
    + _without(
        DISFLUENCIES, "conv_id", "day", "daily_submission_number",
        "length_minutes", "total_word_count",
    )
    + [
        T.StructField("submit_minute_int", T.IntegerType(), True),
        T.StructField("local_time_converted", T.StringType(), True),
        T.StructField("timezone_used", T.StringType(), True),
        T.StructField("consent_date_at_accounting", T.StringType(), True),
        T.StructField("expected_language", T.StringType(), True),
        T.StructField("proposed_processed_name", T.StringType(), True),
        T.StructField("date_mp3_first_detected", T.StringType(), True),
    ]
)

# the gated stream's redaction-violation sink: the diaries the batch issues
# log flags 'pre-redaction' (phone_transcript_redaction.py:69-72)
VIOLATIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("day", T.IntegerType(), True),
        T.StructField("daily_submission_number", T.IntegerType(), True),
        T.StructField("filename", T.StringType(), True),
    ]
)

# the gated stream's pending-return sink (J7): the batch pending family, one
# row per key, with the first request ts in place of the detection date
PENDING_FLAGS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("filename", T.StringType(), True),
        T.StructField("req_ts", T.TimestampType(), True),
        T.StructField("file_stage", T.StringType(), True),
        T.StructField("error_message", T.StringType(), True),
    ]
)
