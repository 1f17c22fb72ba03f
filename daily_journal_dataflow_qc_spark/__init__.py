"""daily_journal_dataflow_qc_spark — a PySpark-native streaming QC/dataflow engine.

A from-scratch re-expression of the capabilities of the reference pipeline
dptools/daily_journal_dataflow_qc (a daily-cron, file-based audio-journal QC
pipeline) as an idiomatic PySpark DataFrame / Structured Streaming engine over
a table of multi-turn transcripts::

    (conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)

See SURVEY.md for the full operator inventory and the graft mapping
(reference subject -> conv_id, sentence index -> turn_idx, speakerID -> role,
TranscribeMe exchange -> tool_calls stream, study day -> tumbling 24h window).
"""

__version__ = "0.1.0"
