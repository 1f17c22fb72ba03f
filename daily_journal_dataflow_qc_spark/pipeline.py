"""End-to-end batch QC pipeline (the flagship DAG).

One declarative Spark plan replacing the reference's three bash branches
(audio_side.sh -> transcript_side.sh -> subject_summaries_update.sh):

    transcripts --dedup--> sessionize --> diary identity --> audio QC --+--> rejected
    tool_calls  --dedup requests/returns--------------------------------+--> issues
    accepted x returned --> redact --> turn stats --> transcript QC ----+--> accepted
                                               \\--> disfluencies ------/

The per-subject bash loop disappears into hash partitioning by conv_id; the
whole identity stage is one shuffle; conv_meta is broadcast.
"""

from __future__ import annotations

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


def run_batch(
    transcripts: DataFrame,
    tool_calls: DataFrame,
    conv_meta: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    persist_intermediates: bool = False,
) -> PipelineOutputs:
    """Build the four output row sets.

    persist_intermediates: cache the shared turn-level stages (sessionized
    turns, per-turn stats) so materializing all four outputs computes the
    expensive windows + redaction UDF once — the batch analogue of the
    streaming job's single-pass fan-out to multiple sinks.
    """
    # identity stage (single shuffle by conv_id)
    turns = diary_ops.dedup_turns(transcripts)
    sessioned = diary_ops.sessionize(turns, cfg)
    if persist_intermediates:
        sessioned = sessioned.persist()
    diaries = diary_ops.diary_identity(sessioned, conv_meta, cfg)
    qc = diary_ops.audio_qc(diaries, cfg)
    if persist_intermediates:
        qc = qc.persist()

    # tool-call round trip (J8 batch form): ONE keyed rollup shape of the
    # tool-call stream feeds the round-trip semi-join AND every issues
    # reconciliation family (the per-family dedup_tool_calls windows were
    # re-derived up to 15x in the issues plan — Catalyst cannot exchange-
    # reuse them across consumers once pruning specializes each copy).
    # Deliberately NOT persisted: the blocking cache build lands on the
    # heavy staged/cached write's critical path and was A/B-measured to
    # cost more than the sub-second per-consumer re-aggregations it saves
    # (which overlap inside the concurrent output jobs) — the same verdict
    # as the rejected requests/returns persist. The verdict holds only while
    # the output jobs overlap: the rollup is recomputed (full tool_calls
    # scan + shuffle) once per consuming output job, so a caller that
    # materializes the outputs one after another should persist it.
    lifecycle = transcript_ops.tool_call_lifecycle(tool_calls)
    returned = transcript_ops.returned_accepted_diaries(
        qc, None, None, lifecycle=lifecycle
    )

    # transcript side: join (prunes to returned-accepted turns) -> ts-side
    # gap windows (reuse the sessionize sort) -> redaction UDF -> text-side
    # metric projections. The UDF comes LAST among these because
    # ArrowEvalPython drops partitioning/ordering — nothing above it may
    # need a window (see transcript.gap_stats/text_stats).
    joined = transcript_ops.attach_diaries(sessioned, returned)
    red = transcript_ops.redact_projection(transcript_ops.gap_stats(joined))
    stats = transcript_ops.text_stats(red)
    if persist_intermediates:
        stats = stats.persist()
    clean_turns, violated = transcript_ops.split_violations(stats)
    # diary-grain and consumed by THREE issue families (violation flag +
    # two reconciliations): without the cache one issues materialization
    # re-runs the redaction-UDF lineage per consuming subtree (measured 8
    # ArrowEvalPython subtrees in a single issues plan)
    violated = violated.persist()
    stats = clean_turns
    # ONE combined per-diary aggregation feeds both transcript QC and the
    # disfluency summary (one shuffle over the turn stats instead of two)
    # diary-grain (tiny) and consumed by tqc + disf + accepted + two issue
    # reconciliations: persisted so the UDF-bearing turn pass behind it runs
    # once, mirroring the staged plan's persisted rollup
    rollup = transcript_ops.diary_rollup(stats).persist()
    tqc = transcript_ops.tqc_from_rollup(rollup)
    disf = transcript_ops.disf_from_rollup(rollup)

    # final row sets
    accepted = compile_ops.accepted_set(qc, tqc, disf)
    rejected = compile_ops.rejected_set(qc)
    # turn_stats evidence for the completed-audio reconciliation is passed
    # at DIARY grain (tqc identity): tqc/disf/turn_stats all derive from the
    # same clean row set, so their diary identity sets are equal by
    # construction — and handing the per-turn frame here would re-derive the
    # whole heavy pass (windows + redaction UDF) just to materialize issues.
    issues = compile_ops.issues_set(
        qc, None, None, violated, cfg, lifecycle=lifecycle,
        transcript_qc=tqc, disfluencies=disf,
        turn_stats=tqc.select("conv_id", "day", "daily_submission_number"),
    )

    turn_stats_out = stats.select(
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
    )  # no global sort: the (conv_id, turn_idx) parity ordering is applied
    # by consumers/tests; a range shuffle of the widest output is wasted work

    return PipelineOutputs(
        accepted=accepted,
        rejected=rejected,
        issues=issues,
        turn_stats=turn_stats_out,
        audio_qc=qc,
        transcript_qc=tqc,
        disfluencies=disf,
    )


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

    Violated diaries are NOT filtered before staging: rows carry the
    per-diary ``_any_violated`` flag instead, so the violation row set and
    the clean row set are both cheap post-stage filters of the same single
    heavy pass.
    """
    turns = diary_ops.dedup_turns(transcripts)
    sessioned = diary_ops.sessionize(turns, cfg)
    diaries = diary_ops.diary_identity(sessioned, conv_meta, cfg)
    qc = diary_ops.audio_qc(diaries, cfg).persist()  # diary-level: small

    # ONE tool-call rollup shape for the round trip + issues families
    # (unpersisted — see run_batch for the A/B'd reasoning)
    lifecycle = transcript_ops.tool_call_lifecycle(tool_calls)
    returned = transcript_ops.returned_accepted_diaries(
        qc, None, None, lifecycle=lifecycle
    )

    # THE heavy pass: join (prunes to returned-accepted turns) -> ts-side
    # gap windows -> redaction UDF -> text-side metric projections -> one
    # staged write, text included. The gap lead-windows partition by
    # conv_id and order by (ts, turn_idx) — the exact sort the sessionize
    # window upstream already produced — and the UDF comes after every
    # window (ArrowEvalPython drops partitioning/ordering), so the whole
    # pass runs on the single conv_id exchange and its two sorts. The
    # per-turn `violated` bit rides into the staging table; diary-level
    # poisoning is derived afterwards from a column-pruned read (never a
    # second wide window sort).
    from pyspark.sql import functions as F

    joined = transcript_ops.attach_diaries(sessioned, returned)
    red = transcript_ops.redact_projection(transcript_ops.gap_stats(joined))
    # drop the lowered-text working column before staging: text is the wide
    # column, writing it twice would double the staged bytes
    staged_stats = transcript_ops.text_stats(red).drop("text_lc")
    staged_stats.write.mode("overwrite").parquet(staging_dir)

    staged = spark.read.parquet(staging_dir)
    # diary-grain and consumed by clean, the violation row set AND two of
    # the issues reconciliations — persist so the staged table is scanned
    # once for it, not once per consumer
    flags = staged.groupBy(*transcript_ops.DIARY_KEY).agg(
        F.max("violated").alias("_any_violated"),
        F.first("filename").alias("filename"),
    ).persist()
    violated = flags.filter(F.col("_any_violated")).select(
        *transcript_ops.DIARY_KEY, "filename"
    )
    clean = (
        staged.join(
            F.broadcast(flags.drop("filename")), transcript_ops.DIARY_KEY, "left"
        )
        .filter(~F.col("_any_violated"))
        .drop("_any_violated")
    )
    rollup = transcript_ops.diary_rollup(clean).persist()  # diary-level: small
    tqc = transcript_ops.tqc_from_rollup(rollup)
    disf = transcript_ops.disf_from_rollup(rollup)

    accepted = compile_ops.accepted_set(qc, tqc, disf)
    rejected = compile_ops.rejected_set(qc)
    # diary-grain turn_stats evidence (see run_batch): equal identity set,
    # no extra pruned scan of the staged table per issues materialization
    issues = compile_ops.issues_set(
        qc, None, None, violated, cfg, lifecycle=lifecycle,
        transcript_qc=tqc, disfluencies=disf,
        turn_stats=tqc.select("conv_id", "day", "daily_submission_number"),
    )

    turn_stats_out = clean.select(
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

    return PipelineOutputs(
        accepted=accepted,
        rejected=rejected,
        issues=issues,
        turn_stats=turn_stats_out,
        audio_qc=qc,
        transcript_qc=tqc,
        disfluencies=disf,
    )


def run_batch_from_dir(
    spark: SparkSession,
    data_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> PipelineOutputs:
    transcripts, tool_calls, conv_meta = load_inputs(spark, data_dir)
    return run_batch(transcripts, tool_calls, conv_meta, cfg)
