"""Golden-parity suite: the Spark batch pipeline must reproduce the pandas
oracle's accepted / rejected / flagged / per-turn row sets exactly
(BASELINE.json invariant: per-turn text equality under stable
(conv_id, turn_idx) ordering)."""

import pandas as pd
import pytest

from daily_journal_dataflow_qc_spark import schemas
from daily_journal_dataflow_qc_spark.oracle import pandas_oracle
from daily_journal_dataflow_qc_spark.pipeline import run_batch_from_dir

from .compare_util import compare_frames

ROUNDED = {
    "length_minutes": 2e-3,
    "final_timestamp_minutes": 2e-3,
    "min_timestamp_space_seconds": 2e-3,
    "max_timestamp_space_seconds": 2e-3,
    "min_timestamp_space_per_word": 2e-3,
    "max_timestamp_space_per_word": 2e-3,
}


@pytest.fixture(scope="module")
def outputs(spark, synth_dir, cfg):
    return run_batch_from_dir(spark, synth_dir, cfg)


@pytest.fixture(scope="module")
def golden(synth_pdfs, cfg):
    transcripts, tool_calls, conv_meta = synth_pdfs
    return pandas_oracle.compute(transcripts, tool_calls, conv_meta, cfg)


def test_accepted_parity(outputs, golden):
    got = outputs.accepted.toPandas()
    assert len(got) > 10, "accepted set suspiciously small"
    compare_frames(got, golden["accepted"], ["conv_id", "day"], rounded_atol_cols=ROUNDED)


def test_rejected_parity(outputs, golden):
    got = outputs.rejected.toPandas()
    assert len(got) > 10, "rejected set suspiciously small"
    compare_frames(
        got,
        golden["rejected"],
        ["conv_id", "day", "daily_submission_number"],
        rounded_atol_cols=ROUNDED,
    )


def test_issues_parity(outputs, golden):
    got = outputs.issues.toPandas()
    assert len(got) > 0, "issues log empty — anomaly fixtures not firing"
    # all six flag families must fire on the fixture data
    assert golden["issues"]["error_message"].nunique() >= 5
    from daily_journal_dataflow_qc_spark.operators.compile import MSG_UPLOAD_FAILED

    assert MSG_UPLOAD_FAILED in set(golden["issues"]["error_message"]), (
        "S8 exhausted-retries fixture not firing"
    )
    compare_frames(
        got,
        golden["issues"],
        ["conv_id", "filename", "file_stage", "error_message"],
    )


def test_turn_stats_parity(outputs, golden):
    got = outputs.turn_stats.toPandas()
    want = golden["turn_stats"]
    assert len(got) > 1000
    compare_frames(got, want, ["conv_id", "turn_idx"])


def test_per_turn_text_equality(outputs, golden):
    """The north-rule invariant, asserted directly."""
    got = (
        outputs.turn_stats.toPandas()[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        golden["turn_stats"][["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_acceptance_predicate_split(outputs, golden):
    """Accepted + rejected partition the diary set; no diary in both."""
    acc = outputs.accepted.toPandas()
    rej = outputs.rejected.toPandas()
    a = set(zip(acc["conv_id"], acc["day"], acc["daily_submission_number"]))
    r = set(zip(rej["conv_id"], rej["day"], rej["daily_submission_number"]))
    assert not (a & r)
    # every accepted diary is a first submission
    assert (acc["daily_submission_number"] == 1).all()


def test_reconciliation_flags_fire_on_engineered_drift(spark, cfg):
    """The three output-reconciliation families (journal_outputs_error_check
    .py:76,84 / :151,159; subject_summaries_update.sh:264 — verbatim
    strings) fire on engineered inconsistencies and stay silent otherwise:

    c1 healthy; c2 duplicated audio-QC identity (the streaming per-batch
    rank's real failure mode); c3 completed round trip but no per-turn
    transcript rows; c4 redacted-CSV product with no transcript-QC row;
    c5 violated diary — completed + no turn rows, but must be flagged
    pre-redaction ONLY (its pulled txt exists in the reference).

    Tool-call rules that meet on one key: c6 return-only key of an accepted
    tool-tagged diary (orphan AND missing request); c7 exhausted retries of
    an accepted diary (upload failed only — no no-QC, no missing request);
    c8 duplicated accepted identity with an overdue request (ONE pending
    row)."""
    from daily_journal_dataflow_qc_spark.operators.compile import (
        MSG_COMPLETED_NO_TRANSCRIPT,
        MSG_COMPLETED_NO_UNIQUE_QC,
        MSG_MISSING_REQUEST,
        MSG_ORPHAN_RETURN,
        MSG_PENDING,
        MSG_REDACTED_CSV_NO_TQC,
        MSG_REDACTION_VIOLATION,
        MSG_UPLOAD_FAILED,
        issues_set,
    )
    from daily_journal_dataflow_qc_spark.operators.transcript import (
        tool_call_lifecycle,
    )

    def df(rows, cols):
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols))

    aqc_rows = [
        ("c1", 1, 1, "f1.wav", "ENGLISH", 1, True),
        ("c2", 1, 1, "f2.wav", "ENGLISH", 1, True),
        ("c2", 1, 1, "f2.wav", "ENGLISH", 1, True),  # duplicate identity
        ("c3", 1, 1, "f3.wav", "ENGLISH", 1, True),
        ("c4", 1, 1, "f4.wav", "ENGLISH", 1, True),
        ("c5", 1, 1, "f5.wav", "ENGLISH", 1, True),
        ("c6", 1, 1, "f6.wav", "ENGLISH", 1, True),
        ("c7", 1, 1, "f7.wav", "ENGLISH", 1, True),
        ("c8", 1, 1, "f8.wav", "ENGLISH", 1, True),
        ("c8", 1, 1, "f8.wav", "ENGLISH", 1, True),  # duplicate identity
    ]
    aqc = df(
        aqc_rows,
        ["conv_id", "day", "daily_submission_number", "filename", "language",
         "audio_approved_bool", "has_tool_tag"],
    )
    ts0 = pd.Timestamp(cfg.compute_date_str, tz="UTC")
    old = ts0 - pd.Timedelta(days=cfg.pending_deadline_days + 1)
    # c1-c5 pushed once and returned: a completed round trip
    tool_calls = spark.createDataFrame(
        pd.DataFrame(
            [
                (c, f"f{i}.wav", kind, "transcribeme", ts0, None)
                for i, c in enumerate(["c1", "c2", "c3", "c4", "c5"], 1)
                for kind in ("request", "return")
            ]
            + [("c6", "f6.wav", "return", "transcribeme", ts0, None)]
            + [
                ("c7", "f7.wav", "request", "transcribeme",
                 old + pd.Timedelta(seconds=5 * a), None)
                for a in range(cfg.max_push_attempts)
            ]
            + [("c8", "f8.wav", "request", "transcribeme", old, None)],
            columns=schemas.TOOL_CALLS.fieldNames(),
        ),
        schema=schemas.TOOL_CALLS,
    )
    violated = df([("c5", 1, 1, "f5.wav")],
                  ["conv_id", "day", "daily_submission_number", "filename"])
    tqc = df(
        [("c1", 1, 1, "f1.wav"), ("c2", 1, 1, "f2.wav")],
        ["conv_id", "day", "daily_submission_number", "filename"],
    )
    disf = df(
        [("c1", 1, 1, "f1.wav"), ("c2", 1, 1, "f2.wav"), ("c4", 1, 1, "f4.wav")],
        ["conv_id", "day", "daily_submission_number", "filename"],
    )
    turns = df(
        [("c1", 1, 1), ("c2", 1, 1), ("c4", 1, 1)],
        ["conv_id", "day", "daily_submission_number"],
    )

    got = issues_set(
        aqc, tool_call_lifecycle(tool_calls), violated, cfg,
        transcript_qc=tqc, disfluencies=disf, turn_stats=turns,
    ).toPandas()
    flags = set(zip(got.conv_id, got.filename, got.file_stage, got.error_message))
    assert flags == {
        ("c2", "f2.wav", "post-audioQC", MSG_COMPLETED_NO_UNIQUE_QC),
        ("c3", "f3.wav", "pre-transcript", MSG_COMPLETED_NO_TRANSCRIPT),
        ("c4", "f4_REDACTED.csv", "pre-transcriptQC", MSG_REDACTED_CSV_NO_TQC),
        ("c5", "f5.wav", "pre-redaction", MSG_REDACTION_VIOLATION),
        ("c6", "f6.wav", "pre-wav", MSG_ORPHAN_RETURN),
        ("c6", "f6.wav", "pre-wav", MSG_MISSING_REQUEST),
        ("c7", "f7.wav", "pre-transcript", MSG_UPLOAD_FAILED),
        ("c8", "f8.wav", "pre-transcript", MSG_PENDING),
    }, flags
    # dedup invariant: one row per issue identity even with duplicated bases
    assert len(got) == 8


def test_no_transcript_side_matches_oracle(spark, synth_pdfs, synth_dir, cfg):
    """With no tool call at all no diary has a round trip, so the transcript
    side is empty: the oracle's four outputs still equal ``run_batch``'s
    (an empty per-turn sink, the accepted set with no transcript columns,
    and a missing-request issue per accepted tool-tagged diary)."""
    from daily_journal_dataflow_qc_spark.pipeline import run_batch

    transcripts, tool_calls, conv_meta = synth_pdfs
    none = tool_calls.iloc[0:0]
    want = pandas_oracle.compute(transcripts, none, conv_meta, cfg)
    got = run_batch(
        spark.read.parquet(f"{synth_dir}/transcripts.parquet"),
        spark.createDataFrame(none, schema=schemas.TOOL_CALLS),
        spark.read.parquet(f"{synth_dir}/conv_meta.parquet"),
        cfg,
    )
    assert len(want["turn_stats"]) == 0 and len(want["accepted"]) > 10
    for name, keys in [
        ("accepted", ["conv_id", "day"]),
        ("rejected", ["conv_id", "day", "daily_submission_number"]),
        ("issues", ["conv_id", "filename", "file_stage", "error_message"]),
        ("turn_stats", ["conv_id", "turn_idx"]),
    ]:
        compare_frames(
            getattr(got, name).toPandas(), want[name], keys, rounded_atol_cols=ROUNDED
        )
