"""Turn-stream -> diary identity: dedup, sessionization, day assignment,
submission rank, and audio-side QC.

Graft of the reference's file-identity machinery (mindlamp_accounting.py) and
audio QC (audio_diary_qc.py) onto the transcripts table: a diary submission is
a burst of turns separated by >= session_gap_minutes; its study day /
submission number / hour fields follow the 4am-shift rules (SURVEY.md §2.9).

Scale notes (100 TB design):
* dedup + sessionization + submission rank all share ONE hash partitioning by
  conv_id — Catalyst reuses the exchange, so the whole identity stage is a
  single shuffle of the turn stream.
* conv_meta is a dimension (one row per conversation) — broadcast joined.
* the per-diary aggregate reduces the data 10-1000x before any further join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.datetime_rules import proposed_processed_name, with_day_assignment


def dedup_turns(transcripts: DataFrame) -> DataFrame:
    """Keep the earliest arrival per (conv_id, turn_idx) (O6 guard:
    'previously processed filename detected as new', mindlamp_accounting.py:196-198).

    Partitions by conv_id ONLY (not (conv_id, turn_idx)) so the subsequent
    sessionize/identity windows reuse the same exchange — the whole identity
    stage is a single shuffle of the turn stream. Dedup within the partition
    is a lag check on the (turn_idx, ts)-sorted run.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    prev_idx = F.lag("turn_idx").over(w)
    return (
        transcripts.withColumn(
            "_keep", prev_idx.isNull() | (prev_idx != F.col("turn_idx"))
        )
        .filter(F.col("_keep"))
        .drop("_keep")
    )


def sessionize(turns: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Assign a per-conv session_id: a new session starts when the gap to the
    previous turn exceeds cfg.session_gap_minutes (gap-based session window).

    Exact batch equivalent of ``session_window(ts, gap)``: gaps are compared
    at MICROSECOND precision (NOT unix_timestamp's whole-second truncation),
    and the boundary condition is strict ``> gap`` — Spark merges a session
    inclusively (next_start <= last_ts + gap), so a turn arriving exactly
    ``gap`` after the previous one stays in the SAME session. Verified
    against session_window itself in tests/test_session_boundary.py."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    gap_us = cfg.session_gap_minutes * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    boundary = F.when(prev_ts.isNull() | (gap > gap_us), 1).otherwise(0)
    return turns.withColumn(
        "session_id",
        F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def diary_identity(
    sessioned: DataFrame, conv_meta: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """One row per diary (conv_id, session_id) with day / submission / hour
    identity and the conv dimension attached."""
    per_session = sessioned.groupBy("conv_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_turns"),
        F.max(F.col("tool").isNotNull()).alias("has_tool_tag"),
    )
    return session_identity(per_session, conv_meta, cfg)


def session_identity(
    sessions: DataFrame, conv_meta: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Identity of per-session rows (``conv_id``, ``session_start``): the
    conv dimension broadcast-joined on, study day, submission rank and
    canonical filename. The batch ``diary_identity`` and the streaming
    foreachBatch (over a micro-batch of closed sessions) share it.

    Convs with no consent date are skipped entirely, matching the reference's
    early return (mindlamp_accounting.py:21-25).
    """
    dim = conv_meta.filter(F.col("consent_date").isNotNull())
    joined = sessions.join(F.broadcast(dim), "conv_id", "inner")
    assigned = with_day_assignment(
        joined, ts_col="session_start", day_shift_hour=cfg.day_shift_hour
    )
    # chronological submission rank per (conv, study day) over the frame
    # given: global in batch — the engine-side fix of the reference's
    # per-batch cumcount — and per micro-batch in the stream, the
    # reference's own semantics (SURVEY §7.3.1)
    w = Window.partitionBy("conv_id", "day").orderBy("session_start")
    return assigned.withColumn(
        "daily_submission_number", F.row_number().over(w)
    ).withColumn(
        "filename",
        proposed_processed_name(
            F.col("conv_id"), F.col("day"), F.col("daily_submission_number")
        ),
    )


def audio_qc(diaries: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Audio-side QC row per diary + acceptance predicate P3
    (audio_diary_qc.py:126-176): reject when the recording is unloadable
    (null metrics), too quiet, too short, or not the day's first submission.
    """
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
    return diaries.withColumns(
        {
            "length_minutes": F.when(corrupted, None).otherwise(
                F.round(F.col("duration_sec") / 60.0, 3)
            ),
            "overall_db": F.when(corrupted, None).otherwise(vol),
            "mean_flatness": F.when(corrupted, None).otherwise(
                F.round(F.col("flatness"), 4)
            ),
            "audio_approved_bool": approved.cast("int"),
        }
    )
