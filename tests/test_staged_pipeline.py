"""The single-pass staged runner must produce row sets identical to the
reference batch runner (same operators, different materialization plan)."""

from daily_journal_dataflow_qc_spark.pipeline import (
    load_inputs,
    run_batch_from_dir,
    run_batch_staged,
)

from .compare_util import compare_frames


def test_staged_matches_unstaged(spark, synth_dir, cfg, tmp_path):
    staging = str(tmp_path)
    transcripts, tool_calls, conv_meta = load_inputs(spark, synth_dir)
    staged = run_batch_staged(spark, transcripts, tool_calls, conv_meta, staging, cfg)
    plain = run_batch_from_dir(spark, synth_dir, cfg)

    for name, keys in [
        ("accepted", ["conv_id", "day"]),
        ("rejected", ["conv_id", "day", "daily_submission_number"]),
        ("issues", ["conv_id", "filename", "file_stage", "error_message"]),
        ("turn_stats", ["conv_id", "turn_idx"]),
        ("transcript_qc", ["conv_id", "day", "daily_submission_number"]),
        ("disfluencies", ["conv_id", "day", "daily_submission_number"]),
    ]:
        got = getattr(staged, name).toPandas()
        want = getattr(plain, name).toPandas()
        assert len(got) > 0, f"{name} empty"
        compare_frames(got, want, keys)
