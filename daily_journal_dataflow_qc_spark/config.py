"""Pipeline configuration.

Mirrors the per-site shell-config knobs of the reference
(/root/reference/ampscz_diaries_launch/pronet_configs/PronetLA.sh:17-18:
``length_cutoff=1``, ``db_cutoff=50``) plus the injected-clock and streaming
parameters the Spark engine needs (SURVEY.md §5.2: "today" and the watermark
clock are injected so age computations are deterministic).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # acceptance predicate thresholds (reference audio_diary_qc.py:171-176)
    db_cutoff: float = 50.0          # minimum overall dB
    length_cutoff_sec: float = 1.0   # minimum duration in seconds

    # session grouping: a diary "submission" is a burst of turns separated by
    # at least this gap (graft of the reference's one-file-per-submission model)
    session_gap_minutes: int = 30

    # day-shift rule: submissions before this local hour count as the previous
    # study day (reference mindlamp_accounting.py:118-121, README.md:278)
    day_shift_hour: int = 4

    # pending-return deadline in days (journal_outputs_error_check.py:123)
    pending_deadline_days: int = 14

    # S8 push lifecycle: the reference retries the SFTP connection up to 10
    # times with a 5s backoff (journal_transcribeme_sftp_push.py:166-191);
    # a submission whose attempts are exhausted without a round trip is
    # flagged "TranscribeMe SFTP upload failed" (subject_summaries_update.sh:141)
    max_push_attempts: int = 10

    # injected "today" for all age computations (never wall-clock; SURVEY §5.2)
    compute_date: _dt.date = field(default_factory=lambda: _dt.date(2023, 6, 1))

    # streaming: event-time watermark of the turn dedup + session window
    watermark_delay: str = "2 days"

    @property
    def compute_date_str(self) -> str:
        return self.compute_date.strftime("%Y-%m-%d")


DEFAULT_CONFIG = PipelineConfig()
