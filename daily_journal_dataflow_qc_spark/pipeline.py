"""End-to-end batch QC pipeline (the flagship DAG).

One declarative Spark plan replacing the reference's three bash branches
(audio_side.sh -> transcript_side.sh -> subject_summaries_update.sh):

    transcripts --dedup--> sessionize --> diary identity --> audio QC --+--> rejected
    tool_calls  --lifecycle rollup--------------------------------------+--> issues
    accepted x returned --> redact --> turn stats --> stage --> tqc ----+--> accepted
                                                           \\--> disf ---/

The per-subject bash loop disappears into hash partitioning by conv_id; the
whole identity stage is one shuffle; conv_meta is broadcast.

``_build`` holds the whole DAG once. The two runners differ only in the
stage step applied to the wide per-turn stats: ``run_batch_staged`` writes
them to a parquet staging table and reads it back (the benched plan),
``run_batch`` keeps them in memory, optionally persisted.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .config import DEFAULT_CONFIG, PipelineConfig
from .operators import compile as compile_ops
from .operators import diaries as diary_ops
from .operators import transcript as transcript_ops


@dataclass
class PipelineOutputs:
    accepted: DataFrame
    rejected: DataFrame
    issues: DataFrame
    turn_stats: DataFrame
    audio_qc: DataFrame
    transcript_qc: DataFrame
    disfluencies: DataFrame


def load_inputs(spark: SparkSession, data_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    transcripts = spark.read.parquet(f"{data_dir}/transcripts.parquet")
    tool_calls = spark.read.parquet(f"{data_dir}/tool_calls.parquet")
    conv_meta = spark.read.parquet(f"{data_dir}/conv_meta.parquet")
    return transcripts, tool_calls, conv_meta


def _build(
    transcripts: DataFrame,
    tool_calls: DataFrame,
    conv_meta: DataFrame,
    cfg: PipelineConfig,
    stage: Callable[[DataFrame], DataFrame],
) -> PipelineOutputs:
    """The flagship DAG, built once for both runners.

    ``stage`` is the one step the runners differ in: it receives the wide
    per-turn stats frame (the heavy pass below) and returns the frame every
    downstream output is derived from — a staged parquet re-read, a
    persisted copy, or the frame itself.
    """
    turns = diary_ops.dedup_turns(transcripts)
    sessioned = diary_ops.sessionize(turns, cfg)
    diaries = diary_ops.diary_identity(sessioned, conv_meta, cfg)
    qc = diary_ops.audio_qc(diaries, cfg).persist()  # diary-level: small

    # tool-call round trip (J8 batch form): ONE keyed rollup of the
    # tool-call stream feeds the round-trip semi-join AND the issues log,
    # whose tool-call families are one rule pass over one lifecycle x
    # accepted-keys frame (per-family copies cannot be exchange-reused
    # once pruning specializes each one). Deliberately NOT persisted: the
    # blocking cache build lands on the heavy staged write's critical path
    # and was A/B-measured to cost more than the sub-second per-consumer
    # re-aggregations it saves (which overlap inside the concurrent output
    # jobs) — the same verdict as the rejected requests/returns persist.
    # The verdict holds only while the output jobs overlap: the rollup is
    # recomputed (full tool_calls scan + shuffle) once per consuming output
    # job, so a caller that materializes the outputs one after another
    # should persist it.
    lifecycle = transcript_ops.tool_call_lifecycle(tool_calls)
    returned = transcript_ops.returned_accepted_diaries(qc, lifecycle=lifecycle)

    # THE heavy pass: join (prunes to returned-accepted turns) -> ts-side
    # gap windows -> redaction -> text-side metric projections -> the
    # stage step, text included. The gap lead-windows partition by conv_id
    # and order by (ts, turn_idx) — the exact sort the sessionize window
    # upstream already produced — so the whole pass runs on the single
    # conv_id exchange and its two sorts. Violated diaries are
    # NOT filtered before the stage: the per-turn `violated` bit rides
    # along, and diary-level poisoning is derived afterwards from a
    # column-pruned read (never a second wide window sort).
    joined = transcript_ops.attach_diaries(sessioned, returned)
    red = transcript_ops.redact_projection(transcript_ops.gap_stats(joined))
    # drop the lowered-text working column before the stage: text is the
    # wide column, staging it twice would double the staged bytes
    staged = stage(transcript_ops.text_stats(red).drop("text_lc"))

    side = transcript_ops.transcript_side(staged)
    tqc, disf = side.transcript_qc, side.disfluencies

    accepted = compile_ops.accepted_set(qc, tqc, disf)
    rejected = compile_ops.rejected_set(qc)
    # turn_stats evidence for the completed-audio reconciliation is passed
    # at DIARY grain (tqc identity): tqc/disf/turn_stats all derive from the
    # same clean row set, so their diary identity sets are equal by
    # construction — and handing the per-turn frame here would re-read the
    # staged turns (or re-run the heavy pass) just to materialize issues.
    issues = compile_ops.issues_set(
        qc, lifecycle, side.violated, cfg, transcript_qc=tqc, disfluencies=disf,
        turn_stats=tqc.select("conv_id", "day", "daily_submission_number"),
    )

    return PipelineOutputs(
        accepted=accepted,
        rejected=rejected,
        issues=issues,
        turn_stats=side.turn_stats,
        audio_qc=qc,
        transcript_qc=tqc,
        disfluencies=disf,
    )


def run_batch(
    transcripts: DataFrame,
    tool_calls: DataFrame,
    conv_meta: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    persist_intermediates: bool = False,
) -> PipelineOutputs:
    """Build the four output row sets in memory.

    persist_intermediates: cache the wide per-turn stats frame so
    materializing all four outputs runs the heavy pass (windows +
    redaction) once — the batch analogue of the streaming job's single-pass
    fan-out to multiple sinks.
    """
    def stage(turn_stats: DataFrame) -> DataFrame:
        return turn_stats.persist() if persist_intermediates else turn_stats

    return _build(transcripts, tool_calls, conv_meta, cfg, stage)


def run_batch_staged(
    spark: SparkSession,
    transcripts: DataFrame,
    tool_calls: DataFrame,
    conv_meta: DataFrame,
    staging_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> PipelineOutputs:
    """Single-pass multi-sink batch run: the WIDE per-turn stats (redaction
    output + sentence metrics + gap windows + text) are computed in ONE
    traversal and written to a columnar staging table; every diary-level
    output is then derived from a column-PRUNED re-read of that table.

    Versus ``run_batch(persist_intermediates=True)`` this removes the wide
    in-memory cache entirely (its build + repeated full-width scans are
    memory-bandwidth-bound — the non-scaling term on a shared bus) and
    replaces it with one parquet encode plus narrow columnar reads: the
    rollup aggregation never touches the text column at all. This is the
    plan you would run at 100 TB — materialize the enriched turn-level
    table once, derive every rollup from pruned scans of it.
    """
    def stage(turn_stats: DataFrame) -> DataFrame:
        turn_stats.write.mode("overwrite").parquet(staging_dir)
        return spark.read.parquet(staging_dir)

    return _build(transcripts, tool_calls, conv_meta, cfg, stage)


def run_batch_from_dir(
    spark: SparkSession,
    data_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> PipelineOutputs:
    transcripts, tool_calls, conv_meta = load_inputs(spark, data_dir)
    return run_batch(transcripts, tool_calls, conv_meta, cfg)
