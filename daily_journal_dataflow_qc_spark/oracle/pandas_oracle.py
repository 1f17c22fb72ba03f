"""Pure-pandas oracle reimplementing the reference row semantics.

This module is the correctness authority for the pytest parity suite
(SURVEY.md §5.2.1). It mirrors the REFERENCE's formulas (the pandas list
comprehensions of transcript_diary_qc.py / phone_transcript_sentence_stats.py
etc.), deliberately NOT the Spark expressions, so the two implementations
cross-check each other.
"""

from __future__ import annotations

import datetime as dt
import re
from zoneinfo import ZoneInfo

import numpy as np
import pandas as pd

from .. import schemas
from ..config import PipelineConfig

_NONVERBAL_RE = re.compile(r"[^a-z]u+[hm]+[^a-z]")


# ------------------------------------------------------------- redaction

def _redaction_violated(line: str) -> bool:
    """Brace-convention violation spec (phone_transcript_redaction.py:56-98):
    every inner '{'-segment must contain exactly one '}'; the final segment
    must be non-empty and either end with '}' or contain exactly one '}'."""
    parts = line.split("{")
    if len(parts) == 1:
        return False
    for seg in parts[1:-1]:
        if seg.count("}") != 1:
            return True
    last = parts[-1]
    if last == "":
        return True
    if last.endswith("}"):
        return False
    return last.count("}") != 1


def _redact_valid_line(line: str) -> str:
    """Rebuild a valid line with brace contents word-wise REDACTED.

    Scanning formulation equivalent to the reference's split-and-rebuild:
    for each '{' group, the redacted word count is the number of
    space-separated tokens of the raw segment up to and including its
    terminator; a line-final group ending in '}' counts the whole tail."""
    parts = line.split("{")
    if len(parts) == 1:
        return line
    pieces = [parts[0], "{"]
    for seg in parts[1:-1]:
        before, after = seg.split("}")  # exactly one '}' guaranteed by caller
        n = len(before.split(" "))
        pieces.append(" ".join(["REDACTED"] * n) + "}")
        pieces.append(after + "{")
    last = parts[-1]
    if last.endswith("}"):
        n = len(last.split(" "))
        pieces.append(" ".join(["REDACTED"] * n) + "}")
    else:
        before, after = last.split("}")
        n = len(before.split(" "))
        pieces.append(" ".join(["REDACTED"] * n) + "}" + after)
    return "".join(pieces)


def _normalize(text: str) -> str:
    return text.replace("\t", " ").replace("\r", " ").rstrip()


def _tool_key(filename: str, language: str) -> str:
    """S10 push rename: the tool-side exchange name
    (journal_transcribeme_sftp_push.py:177 formula, verbatim). Names with no
    "submission" segment pass through unchanged — same contract as
    functions.naming.with_language_marker."""
    parts = filename.split("submission")
    if len(parts) < 2:
        return filename
    return parts[0] + language + "_submission" + parts[1]


def _strip_tool_key(marked: str, language: str) -> str:
    """S10 pull inverse (mirror of functions.naming.strip_language_marker)."""
    m = f"{language}_submission"
    i = marked.find(m)
    if i < 0:
        return marked
    return marked[:i] + marked[i + len(language) + 1 :]


# ------------------------------------------------------------- identity

def _local(ts: pd.Timestamp, tz: str) -> dt.datetime:
    return ts.tz_localize("UTC").tz_convert(ZoneInfo(tz)).to_pydatetime()


def _day_fields(local: dt.datetime, consent: dt.date, shift_hour: int) -> dict:
    literal_day = (local.date() - consent).days + 1
    h = local.hour
    day = literal_day - 1 if h < shift_hour else literal_day
    hour_adj = h + 24 if h < shift_hour else h
    wd = ((local.weekday() + 2) % 7) + 1  # DPDash convention
    if h < shift_hour:
        wd = wd - 1 if wd > 1 else 7
    return {
        "day": day,
        "submit_hour_int": hour_adj,
        "weekday": wd,
        "timeofday": local.strftime("%H:%M:%S"),
        "submit_minute_int": local.minute,
        "local_time_converted": local.strftime("%Y-%m-%d %H:%M:%S"),
    }


def compute(
    transcripts: pd.DataFrame,
    tool_calls: pd.DataFrame,
    conv_meta: pd.DataFrame,
    cfg: PipelineConfig,
) -> dict[str, pd.DataFrame]:
    """Return {accepted, rejected, issues, turn_stats, audio_qc} DataFrames."""
    gap_sec = cfg.session_gap_minutes * 60

    # dedup (keep earliest arrival per conv/turn) then sessionize per conv
    t = transcripts.sort_values(["conv_id", "turn_idx", "ts"]).drop_duplicates(
        ["conv_id", "turn_idx"], keep="first"
    )
    t = t.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    # boundary at gap > gap_sec (exact seconds): Spark session_window merges
    # inclusively (next_start <= last_ts + gap), so a gap of exactly gap_sec
    # stays in the same session — verified in tests/test_session_boundary.py
    gaps = t.groupby("conv_id")["ts"].diff().dt.total_seconds()
    t["session_id"] = ((gaps.isna()) | (gaps > gap_sec)).astype(int).groupby(t["conv_id"]).cumsum()

    meta = conv_meta.set_index("conv_id")

    # diary identity per (conv, session)
    diaries = (
        t.groupby(["conv_id", "session_id"])
        .agg(
            session_start=("ts", "min"),
            session_end=("ts", "max"),
            n_turns=("ts", "size"),
            has_tool_tag=("tool", lambda s: s.notna().any()),
        )
        .reset_index()
    )
    rows = []
    for r in diaries.itertuples():
        m = meta.loc[r.conv_id]
        consent = m["consent_date"]
        if consent is None or (isinstance(consent, float) and np.isnan(consent)) or pd.isna(consent):
            continue
        consent = pd.Timestamp(consent).date()
        local = _local(pd.Timestamp(r.session_start), m["timezone"])
        f = _day_fields(local, consent, cfg.day_shift_hour)
        corrupted = pd.isna(m["db_level"]) or pd.isna(m["duration_sec"])
        rows.append(
            {
                "conv_id": r.conv_id,
                "session_id": r.session_id,
                "session_start": r.session_start,
                "session_end": r.session_end,
                "has_tool_tag": bool(r.has_tool_tag),
                **f,
                "length_minutes": None if corrupted else round(float(m["duration_sec"]) / 60.0, 3),
                "overall_db": None if corrupted else round(float(m["db_level"]), 2),
                "mean_flatness": None if corrupted else round(float(m["flatness"]), 4),
                "duration_sec": None if corrupted else float(m["duration_sec"]),
                "subject_consent_month": f"{consent.month:02d}/{consent.year}",
                "consent_date_at_accounting": consent.strftime("%Y-%m-%d"),
                "timezone_used": m["timezone"],
                "expected_language": m["language"],
            }
        )
    dqc = pd.DataFrame(rows)
    dqc = dqc.sort_values(["conv_id", "day", "session_start"])
    dqc["daily_submission_number"] = dqc.groupby(["conv_id", "day"]).cumcount() + 1
    dqc["filename"] = [
        f"{c}_audioJournal_day{int(d):04d}_submission{int(s)}.wav"
        for c, d, s in zip(dqc["conv_id"], dqc["day"], dqc["daily_submission_number"])
    ]
    # acceptance predicate (audio_diary_qc.py:171-176)
    dqc["audio_approved_bool"] = [
        0
        if pd.isna(db) or db < cfg.db_cutoff or sec < cfg.length_cutoff_sec or n > 1
        else 1
        for db, sec, n in zip(
            dqc["overall_db"].astype(float),
            dqc["duration_sec"].astype(float),
            dqc["daily_submission_number"],
        )
    ]

    # tool-call round trip
    req = (
        tool_calls[tool_calls["kind"] == "request"]
        .sort_values("ts")
        .drop_duplicates(["conv_id", "request_key"], keep="first")
    )
    ret = (
        tool_calls[tool_calls["kind"] == "return"]
        .sort_values("ts")
        .drop_duplicates(["conv_id", "request_key"], keep="first")
    )
    req_keys = set(zip(req["conv_id"], req["request_key"]))
    ret_keys = set(zip(ret["conv_id"], ret["request_key"]))

    accepted_d = dqc[dqc["audio_approved_bool"] == 1]
    returned = accepted_d[
        [
            (c, _tool_key(f, lg)) in req_keys and (c, _tool_key(f, lg)) in ret_keys
            for c, f, lg in zip(
                accepted_d["conv_id"],
                accepted_d["filename"],
                accepted_d["expected_language"],
            )
        ]
    ]

    # transcript side: redact, poison violated diaries, per-turn stats
    turns = t.merge(
        returned[
            [
                "conv_id",
                "session_id",
                "day",
                "daily_submission_number",
                "session_start",
                "overall_db",
                "filename",
                "timeofday",
                "weekday",
            ]
        ],
        on=["conv_id", "session_id"],
        how="inner",
    )
    norm = turns["text"].map(_normalize)
    turns["violated"] = norm.map(_redaction_violated)
    # object dtype also when no diary returned: an empty list would give
    # the column a float dtype, which has no ``.str``
    turns["text"] = pd.Series(
        [None if v else _redact_valid_line(s) for s, v in zip(norm, turns["violated"])],
        index=turns.index,
        dtype=object,
    )
    bad = turns.groupby(["conv_id", "session_id"])["violated"].transform("any")
    violated_diaries = (
        turns[bad][["conv_id", "session_id", "filename"]].drop_duplicates()
    )
    clean = turns[~bad].sort_values(["conv_id", "session_id", "ts", "turn_idx"]).copy()

    # reference per-sentence formulas (phone_transcript_sentence_stats.py:160-217)
    low = clean["text"].str.lower()
    clean["word_count"] = [len(x.split(" ")) for x in low]
    clean["inaudibles_and_questionables"] = [
        x.count("?]") + x.count("[inaudible]") for x in low
    ]
    clean["other_bracketed_words"] = [
        x.count("]") - x.count("?]") - x.count("[inaudible]") for x in low
    ]
    clean["redactions"] = [x.count("redacted") for x in low]
    clean["nonverbal_edits"] = [
        len(_NONVERBAL_RE.findall(" " + "  ".join(x.split(" ")) + " ")) for x in low
    ]
    clean["verbal_edits"] = [
        x.count("like,") + x.count("you know,") + x.count("i mean,") for x in low
    ]

    def _stutter(x: str) -> int:
        c = 0
        for y in x.split(" "):
            p = y.split("-")
            if len(p) > 1 and len(p[0]) <= len(p[1]) and p[0] == p[1][: len(p[0])]:
                c += 1
        return c

    clean["stutter_repeats"] = [_stutter(x) for x in low]
    clean["word_repeats"] = [
        sum(
            1
            for i in range(1, len(x.split(" ")))
            if x.split(" ")[i - 1].replace(",", "") == x.split(" ")[i].replace(",", "")
        )
        for x in low
    ]
    clean["repeats"] = clean["stutter_repeats"] + clean["word_repeats"]
    clean["restarts"] = [x.count("--") for x in low]

    sec = (clean["ts"] - clean["session_start"]).dt.total_seconds()
    clean["sec_from_start"] = sec
    clean["minutes_from_start"] = sec / 60.0
    nxt = clean.groupby(["conv_id", "session_id"])["sec_from_start"].shift(-1)
    clean["inner_gap_seconds"] = nxt - clean["sec_from_start"]
    clean["estimated_sentence_seconds"] = np.where(
        nxt.notna(),
        nxt - clean["sec_from_start"],
        clean["overall_db"].astype(float) * 60.0 - clean["sec_from_start"],
    )
    clean["is_ascii"] = clean["text"].map(lambda s: s.isascii())

    turn_stats = clean[
        [
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
        ]
    ].sort_values(["conv_id", "turn_idx"])

    # per-diary transcript QC (transcript_diary_qc.py:174-242)
    def _tqc(g: pd.DataFrame) -> pd.Series:
        gaps_list = g["inner_gap_seconds"].dropna().tolist()
        per_word = (g["inner_gap_seconds"] / g["word_count"]).dropna().tolist()
        return pd.Series(
            {
                "speakerID_count": g["role"].nunique(),
                "S1_sentence_count": int((g["role"] == "S1").sum()),
                "total_sentence_count": len(g),
                "word_count": int(g["word_count"].sum()),
                "min_words_in_sen": int(g["word_count"].min()),
                "max_words_in_sen": int(g["word_count"].max()),
                "inaudible_count": int(
                    (g["inaudibles_and_questionables"] - _quest(g)).sum()
                ),
                "questionable_count": int(_quest(g).sum()),
                "other_bracketed_notation_count": int(g["other_bracketed_words"].sum()),
                "redacted_count": int(g["redactions"].sum()),
                "final_timestamp_minutes": round(g["minutes_from_start"].max(), 3),
                "min_timestamp_space_seconds": round(min(gaps_list), 3) if gaps_list else None,
                "max_timestamp_space_seconds": round(max(gaps_list), 3) if gaps_list else None,
                "min_timestamp_space_per_word": round(min(per_word), 3) if per_word else None,
                "max_timestamp_space_per_word": round(max(per_word), 3) if per_word else None,
                "txt_encoding_type": "ASCII" if g["is_ascii"].all() else "UTF-8",
            }
        )

    def _quest(g: pd.DataFrame) -> pd.Series:
        return g["text"].str.lower().str.count(r"\?\]")

    group_cols = [
        "conv_id",
        "session_id",
        "day",
        "timeofday",
        "weekday",
        "daily_submission_number",
        "filename",
    ]
    if len(clean) > 0:
        tqc = clean.groupby(group_cols).apply(_tqc, include_groups=False).reset_index()
        tqc["redacted_csv_filename"] = tqc["filename"].str.replace(
            ".wav", "_REDACTED.csv", regex=False
        )
    else:
        tqc = pd.DataFrame(
            columns=list(dict.fromkeys(group_cols + schemas.TRANSCRIPT_QC.fieldNames()))
        )

    # disfluency summary (phone_transcript_sentence_stats.py:97-118)
    if len(clean) > 0:
        disf = (
            clean.groupby(["conv_id", "session_id", "day", "daily_submission_number", "filename"])
            .agg(
                length_minutes=("overall_db", "first"),
                total_word_count=("word_count", lambda s: float(np.nansum(s))),
                nonverbal_edits_count=("nonverbal_edits", lambda s: float(np.nansum(s))),
                verbal_edits_count=("verbal_edits", lambda s: float(np.nansum(s))),
                repeats_count=("repeats", lambda s: float(np.nansum(s))),
                restarts_count=("restarts", lambda s: float(np.nansum(s))),
            )
            .reset_index()
        )
        disf["transcript_csv_name"] = disf["filename"].str.replace(
            ".wav", "_REDACTED_withSentenceStats.csv", regex=False
        )
        disf["total_disfluencies"] = (
            disf["nonverbal_edits_count"]
            + disf["verbal_edits_count"]
            + disf["repeats_count"]
            + disf["restarts_count"]
        )
        for c in ("nonverbal_edits", "verbal_edits", "repeats", "restarts"):
            disf[f"{c}_per_word"] = disf[f"{c}_count"] / disf["total_word_count"].astype(float)
        disf["disfluencies_per_minute"] = disf["total_disfluencies"] / disf["length_minutes"]
    else:
        disf = pd.DataFrame()

    # accepted set (diary_qc_compilation.py:136-185)
    acc = dqc[dqc["audio_approved_bool"] == 1].copy()
    merged = acc.merge(
        tqc.drop(columns=["session_id", "filename"], errors="ignore"),
        on=["conv_id", "day", "timeofday", "weekday", "daily_submission_number"],
        how="left",
    )
    if len(disf) > 0:
        merged = merged.merge(
            disf.drop(columns=["session_id", "filename", "length_minutes", "total_word_count"]),
            on=["conv_id", "day", "daily_submission_number"],
            how="left",
        )
    else:
        for c in (
            "transcript_csv_name", "nonverbal_edits_count", "verbal_edits_count",
            "repeats_count", "restarts_count", "total_disfluencies",
            "nonverbal_edits_per_word", "verbal_edits_per_word", "repeats_per_word",
            "restarts_per_word", "disfluencies_per_minute",
        ):
            merged[c] = np.nan
    merged["proposed_processed_name"] = merged["filename"]
    merged["date_mp3_first_detected"] = merged["session_end"].dt.strftime("%Y-%m-%d")
    merged = merged.dropna(subset=["day", "daily_submission_number"])
    merged = merged[merged["daily_submission_number"] == 1]
    merged = merged.sort_values(["conv_id", "day", "daily_submission_number"]).drop_duplicates(
        ["conv_id", "day"], keep="first"
    )
    accepted = (
        merged[schemas.ACCEPTED.fieldNames()]
        .sort_values(["conv_id", "day"])
        .reset_index(drop=True)
    )

    # rejected set
    rejected = (
        dqc[dqc["audio_approved_bool"] != 1][schemas.REJECTED.fieldNames()]
        .sort_values(["conv_id", "day", "daily_submission_number"])
        .reset_index(drop=True)
    )

    # issues log
    from ..operators.compile import (
        MSG_COMPLETED_NO_TRANSCRIPT,
        MSG_COMPLETED_NO_UNIQUE_QC,
        MSG_MISSING_REQUEST,
        MSG_ORPHAN_RETURN,
        MSG_PENDING,
        MSG_REDACTION_VIOLATION,
        MSG_REDACTED_CSV_NO_TQC,
        MSG_REQUEST_NO_QC,
        MSG_UPLOAD_FAILED,
    )

    today = cfg.compute_date
    issues_rows = []

    # S8 attempt lifecycle: keys whose push retries are exhausted without a
    # return never reached the tool — flagged upload-failed (local name),
    # excluded from the pending / no-QC reconciliations
    # distinct request ts per key: duplicate rows are verbatim re-deliveries
    # (engine mirror: push_attempt_stats countDistinct)
    att = (
        tool_calls[tool_calls["kind"] == "request"]
        .drop_duplicates(["conv_id", "request_key", "ts"])
        .groupby(["conv_id", "request_key"])
        .size()
    )
    exhausted = {
        k
        for k, n in att.items()
        if n >= cfg.max_push_attempts and k not in ret_keys
    }
    # language for the local-name strip comes from the conversation's QC rows
    # (engine semantics: a conv with no audio-QC rows keeps the marked key;
    # min per conv, matching compile.issues_set's deterministic pick)
    _langs = dqc.groupby("conv_id")["expected_language"].min().to_dict()

    def add(conv, fname, stage, msg):
        issues_rows.append(
            {
                "date_detected": cfg.compute_date_str,
                "conv_id": conv,
                "filename": fname,
                "file_stage": stage,
                "error_message": msg,
            }
        )

    acc_keys = {
        (c, _tool_key(f, lg))
        for c, f, lg in zip(acc["conv_id"], acc["filename"], acc["expected_language"])
    }
    tagged = acc[acc["has_tool_tag"]]
    tagged_keys = {
        (c, _tool_key(f, lg))
        for c, f, lg in zip(
            tagged["conv_id"], tagged["filename"], tagged["expected_language"]
        )
    }
    for r in req.itertuples():
        k = (r.conv_id, r.request_key)
        if k in exhausted:
            continue  # never reached the tool: upload-failed, not pending/no-QC
        if k not in ret_keys and (today - pd.Timestamp(r.ts).date()).days >= cfg.pending_deadline_days:
            add(r.conv_id, r.request_key, "pre-transcript", MSG_PENDING)
        if k not in acc_keys:
            add(r.conv_id, r.request_key, "post-audioQC", MSG_REQUEST_NO_QC)
    for c, k in sorted(exhausted):
        add(c, _strip_tool_key(k, _langs.get(c, "")) if c in _langs else k,
            "pre-transcript", MSG_UPLOAD_FAILED)
    for r in ret.itertuples():
        if (r.conv_id, r.request_key) not in req_keys:
            add(r.conv_id, r.request_key, "pre-wav", MSG_ORPHAN_RETURN)
    for k in sorted(tagged_keys - req_keys):
        add(k[0], k[1], "pre-wav", MSG_MISSING_REQUEST)
    for r in violated_diaries.itertuples():
        add(r.conv_id, r.filename, "pre-redaction", MSG_REDACTION_VIOLATION)

    # output reconciliations (compile.issues_set mirror; empty on a healthy
    # run — they detect drift between the engine's own outputs)
    dkey = ["conv_id", "day", "daily_submission_number"]
    aqc_counts = dqc.groupby(dkey).size()
    if len(tqc) > 0:
        for r in tqc[dkey + ["filename"]].drop_duplicates().itertuples():
            k = (r.conv_id, r.day, r.daily_submission_number)
            if aqc_counts.get(k, 0) != 1:
                add(r.conv_id, r.filename, "post-audioQC", MSG_COMPLETED_NO_UNIQUE_QC)
    if len(disf) > 0:
        tqc_counts = tqc.groupby(dkey).size() if len(tqc) else pd.Series(dtype=int)
        for r in disf[dkey + ["filename"]].drop_duplicates().itertuples():
            k = (r.conv_id, r.day, r.daily_submission_number)
            if tqc_counts.get(k, 0) != 1:
                add(
                    r.conv_id,
                    r.filename.replace(".wav", "_REDACTED.csv"),
                    "pre-transcriptQC",
                    MSG_REDACTED_CSV_NO_TQC,
                )
    violated_ids = set(zip(violated_diaries["conv_id"], violated_diaries["filename"]))
    ts_ids = set(map(tuple, turn_stats[dkey].drop_duplicates().itertuples(index=False)))
    for r in acc[dkey + ["filename", "expected_language"]].itertuples():
        mk = (r.conv_id, _tool_key(r.filename, r.expected_language))
        if mk not in req_keys or mk not in ret_keys:
            continue  # round trip incomplete: not "completed audio"
        if (r.conv_id, r.filename) in violated_ids:
            continue  # txt exists in the reference; flagged pre-redaction
        if (r.conv_id, r.day, r.daily_submission_number) not in ts_ids:
            add(r.conv_id, r.filename, "pre-transcript", MSG_COMPLETED_NO_TRANSCRIPT)

    issues = pd.DataFrame(
        issues_rows,
        columns=["date_detected", "conv_id", "filename", "file_stage", "error_message"],
    )
    if len(issues) > 0:
        issues = (
            issues.sort_values("date_detected")
            .drop_duplicates(["conv_id", "filename", "file_stage", "error_message"])
            .sort_values(["date_detected", "conv_id", "filename", "file_stage"])
            .reset_index(drop=True)
        )

    return {
        "accepted": accepted,
        "rejected": rejected,
        "issues": issues,
        "turn_stats": turn_stats.reset_index(drop=True),
        "audio_qc": dqc.reset_index(drop=True),
    }
