"""S8 push retry/backoff lifecycle: attempt-count rollup, the exhausted-
retries 'TranscribeMe SFTP upload failed' flag (reference retry loop
journal_transcribeme_sftp_push.py:166-191 + subject_summaries_update.sh:
127-143), and the clear path (manual_update_utilities/sftp_push_error_clear.py)."""

import pandas as pd
import pytest

from daily_journal_dataflow_qc_spark import schemas
from daily_journal_dataflow_qc_spark.operators.compile import (
    MSG_PENDING,
    MSG_UPLOAD_FAILED,
    issues_set,
)
from daily_journal_dataflow_qc_spark.operators.transcript import (
    clear_resolved_push_errors,
    dedup_tool_calls,
    push_attempt_stats,
    returned_accepted_diaries,
    tool_call_lifecycle,
)

LOCAL_1 = "c1_audioJournal_day0001_submission1.wav"
MARKED_1 = "c1_audioJournal_day0001_ENGLISH_submission1.wav"
LOCAL_3 = "c3_audioJournal_day0002_submission1.wav"
MARKED_3 = "c3_audioJournal_day0002_ENGLISH_submission1.wav"


def _tool_calls(spark):
    rows = []
    # c1: all 10 attempts fail (5s backoff), no return -> upload failed
    for a in range(10):
        rows.append(("c1", MARKED_1, "request", "transcribeme",
                     pd.Timestamp("2023-03-01 10:00:00") + pd.Timedelta(seconds=5 * a), None))
    # c2: transient retries then a round trip -> healthy
    m2 = "c2_audioJournal_day0001_ENGLISH_submission1.wav"
    for a in range(3):
        rows.append(("c2", m2, "request", "transcribeme",
                     pd.Timestamp("2023-03-02 09:00:00") + pd.Timedelta(seconds=5 * a), None))
    rows.append(("c2", m2, "return", "transcribeme", pd.Timestamp("2023-03-04 09:00:00"), "body"))
    # c3: single successful push, never returned, old -> pending
    rows.append(("c3", MARKED_3, "request", "transcribeme", pd.Timestamp("2023-01-01 08:00:00"), None))
    pdf = pd.DataFrame(rows, columns=["conv_id", "request_key", "kind", "tool", "ts", "payload"])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC")
    return spark.createDataFrame(pdf, schema=schemas.TOOL_CALLS)


def _audio_qc(spark):
    # minimal accepted-diary frame: marked(c1 filename) == the exhausted key
    # so no missing-request flag muddies the assertions
    return spark.createDataFrame(
        [
            ("c1", 1, 1, LOCAL_1, "ENGLISH", 1, True),
            ("c3", 2, 1, LOCAL_3, "ENGLISH", 1, True),
        ],
        "conv_id string, day int, daily_submission_number int, "
        "filename string, language string, "
        "audio_approved_bool int, has_tool_tag boolean",
    )


def _no_diaries(spark):
    # empty transcript-QC / disfluency / turn-stats evidence: the output
    # reconciliations stay silent on keys that never round-tripped
    return spark.createDataFrame(
        [], "conv_id string, day int, daily_submission_number int, filename string"
    )


def test_push_attempt_stats(spark):
    att = {r["conv_id"]: r for r in push_attempt_stats(_tool_calls(spark)).collect()}
    assert att["c1"]["n_attempts"] == 10 and not att["c1"]["returned"]
    assert att["c2"]["n_attempts"] == 3 and att["c2"]["returned"]
    assert att["c3"]["n_attempts"] == 1 and not att["c3"]["returned"]
    # 5s backoff span recorded on the lifecycle row
    span = att["c1"]["last_attempt_ts"] - att["c1"]["first_attempt_ts"]
    assert span.total_seconds() == 45.0


def test_issues_upload_failed_replaces_pending(spark, cfg):
    tc = _tool_calls(spark)
    qc = _audio_qc(spark)
    violated = spark.createDataFrame([], "conv_id string, filename string")
    none = _no_diaries(spark)
    issues = issues_set(
        qc, tool_call_lifecycle(tc), violated, cfg, none, none, none
    ).toPandas()

    failed = issues[issues.error_message == MSG_UPLOAD_FAILED]
    assert set(zip(failed.conv_id, failed.filename)) == {("c1", LOCAL_1)}
    assert (failed.file_stage == "pre-transcript").all()
    pending = issues[issues.error_message == MSG_PENDING]
    # c1 exhausted -> NOT pending (never reached the tool); c3 is pending
    assert set(zip(pending.conv_id, pending.filename)) == {("c3", MARKED_3)}


def test_clear_resolved_push_errors(spark, cfg):
    tc = _tool_calls(spark)
    qc = _audio_qc(spark)
    violated = spark.createDataFrame([], "conv_id string, filename string")
    none = _no_diaries(spark)
    issues = issues_set(
        qc, tool_call_lifecycle(tc), violated, cfg, none, none, none
    )

    # later stream state: c1's push finally succeeded and returned
    fixed = pd.DataFrame(
        [("c1", MARKED_1, "return", "transcribeme",
          pd.Timestamp("2023-06-02 10:00:00", tz="UTC"), "body")],
        columns=["conv_id", "request_key", "kind", "tool", "ts", "payload"],
    )
    tc2 = tc.unionByName(spark.createDataFrame(fixed, schema=schemas.TOOL_CALLS))
    conv_lang = qc.select("conv_id", "language").distinct()

    cleared = clear_resolved_push_errors(issues, tc2, conv_lang).toPandas()
    assert MSG_UPLOAD_FAILED not in set(cleared.error_message)
    # every other issue row survives verbatim
    before = issues.toPandas()
    rest = before[before.error_message != MSG_UPLOAD_FAILED]
    assert len(cleared) == len(rest)

    # an UNRESOLVED upload-failed row is kept
    kept = clear_resolved_push_errors(issues, tc, conv_lang).toPandas()
    assert (kept.error_message == MSG_UPLOAD_FAILED).sum() == 1


def test_push_attempts_ignore_verbatim_redeliveries(spark):
    """Duplicate tool-call rows are verbatim re-deliveries (same ts) and
    must NOT inflate the attempt count toward the upload-failed flag;
    genuine retries (>= 5s backoff, distinct ts) still count."""
    rows = []
    for a in range(3):
        row = ("c9", MARKED_1, "request", "transcribeme",
               pd.Timestamp("2023-03-01 10:00:00") + pd.Timedelta(seconds=5 * a), None)
        rows.append(row)
        rows.append(row)  # re-delivered verbatim
    pdf = pd.DataFrame(rows, columns=["conv_id", "request_key", "kind", "tool", "ts", "payload"])
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    tc = spark.createDataFrame(pdf, schema=schemas.TOOL_CALLS)
    att = push_attempt_stats(tc).collect()[0]
    assert att["n_attempts"] == 3


def test_tool_call_lifecycle_matches_window_derivations(spark, cfg):
    """r07 restructure guard: every request/return side issues_set derives
    from the ONE tool_call_lifecycle rollup must equal the dedup_tool_calls
    window / push_attempt_stats derivations it replaced — including the
    null-ts first arrival (row_number orderBy ts puts NULL FIRST; the
    rollup's struct-min must pick the same NULL, not the later real ts)."""
    rows = []
    # k1: verbatim re-deliveries + genuine retries, returned
    for a in (0, 0, 5, 10):
        rows.append(("k1", "f1.wav", "request",
                     pd.Timestamp("2023-03-01 10:00:00") + pd.Timedelta(seconds=a)))
    rows.append(("k1", "f1.wav", "return", pd.Timestamp("2023-03-02 10:00:00")))
    # k2: orphan return (no request at all)
    rows.append(("k2", "f2.wav", "return", pd.Timestamp("2023-03-01 11:00:00")))
    # k4: exhausted — max_push_attempts distinct request ts, no return
    for a in range(cfg.max_push_attempts):
        rows.append(("k4", "f4.wav", "request",
                     pd.Timestamp("2023-03-01 13:00:00") + pd.Timedelta(seconds=5 * a)))
    # k5: single old pending request
    rows.append(("k5", "f5.wav", "request", pd.Timestamp("2023-01-01 08:00:00")))
    pdf = pd.DataFrame(rows, columns=["conv_id", "request_key", "kind", "ts"])
    pdf["tool"] = "transcribeme"
    pdf["payload"] = None
    pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC")
    tc = spark.createDataFrame(
        pdf[["conv_id", "request_key", "kind", "tool", "ts", "payload"]],
        schema=schemas.TOOL_CALLS,
    )

    life = {(r["conv_id"], r["request_key"]): r
            for r in tool_call_lifecycle(tc).collect()}
    from pyspark.sql import functions as F

    # request existence + first-arrival ts == the window dedup's kept row
    req_win = {(r["conv_id"], r["request_key"]): r["ts"]
               for r in dedup_tool_calls(tc, "request").collect()}
    assert {k for k, r in life.items() if r["has_request"]} == set(req_win)
    for k, ts in req_win.items():
        assert life[k]["first_request_ts"] == ts, (k, life[k], ts)
    # return existence == the return-side window dedup
    ret_win = {(r["conv_id"], r["request_key"])
               for r in dedup_tool_calls(tc, "return").collect()}
    assert {k for k, r in life.items() if r["returned"]} == ret_win
    # exhausted predicate == the push_attempt_stats filter
    exh_old = {(r["conv_id"], r["request_key"])
               for r in push_attempt_stats(tc).filter(
                   (~F.col("returned"))
                   & (F.col("n_attempts") >= cfg.max_push_attempts)).collect()}
    exh_new = {k for k, r in life.items()
               if r["has_request"] and not r["returned"]
               and r["n_attempts"] >= cfg.max_push_attempts}
    assert exh_new == exh_old == {("k4", "f4.wav")}

    # returned_accepted_diaries: only the accepted, round-tripped k1; the
    # two legacy positional slots take nothing but None
    qc = spark.createDataFrame(
        [("k1", "f1.wav", "", 1), ("k4", "f4.wav", "", 1), ("k5", "f5.wav", "", 0)],
        "conv_id string, filename string, language string, audio_approved_bool int",
    )
    lifecycle = tool_call_lifecycle(tc)
    new = returned_accepted_diaries(qc, None, None, lifecycle=lifecycle)
    assert [r["conv_id"] for r in new.collect()] == ["k1"]
    for slots in ((tc, None), (None, tc)):
        with pytest.raises(ValueError, match="requests/returns"):
            returned_accepted_diaries(qc, *slots, lifecycle=lifecycle)

    # NULL-ts robustness (schemas.TOOL_CALLS pins ts non-null, but the
    # rollup must not silently substitute a later real timestamp if fed a
    # relaxed frame): the window dedup keeps the NULL-FIRST row — so must
    # the struct-min
    import datetime as _dt

    relaxed = spark.createDataFrame(
        [("k3", "f3.wav", "request", None),
         ("k3", "f3.wav", "request", _dt.datetime(2023, 3, 1, 12, 0, 0))],
        "conv_id string, request_key string, kind string, ts timestamp",
    )
    win_ts = dedup_tool_calls(relaxed, "request").collect()[0]["ts"]
    roll_ts = tool_call_lifecycle(relaxed).collect()[0]["first_request_ts"]
    assert win_ts is None and roll_ts is None


def test_clear_resolved_return_errors(spark):
    """manual_update_utilities/transcribeme_return_error_clear.py parity:
    a stale 'pending return > 2 weeks' row clears ONLY when the file left
    the pending area AND its transcript exists; still-pending and
    transcript-less files keep their flags, other issues survive verbatim."""
    from daily_journal_dataflow_qc_spark.operators.transcript import (
        clear_resolved_return_errors,
    )

    issues = spark.createDataFrame(
        pd.DataFrame(
            [
                # resolved: not pending anymore + transcript present -> clears
                ("c1", "f1.wav", MSG_PENDING),
                # still pending -> kept (TranscribeMe may genuinely never return)
                ("c1", "f2.wav", MSG_PENDING),
                # left pending but NO transcript -> kept
                ("c2", "f3.wav", MSG_PENDING),
                # unrelated issue -> kept verbatim
                ("c1", "f1.wav", "Redaction convention violated in file, please review manually"),
            ],
            columns=["conv_id", "filename", "error_message"],
        )
    )
    pending = spark.createDataFrame(
        pd.DataFrame([("c1", "f2.wav")], columns=["conv_id", "filename"])
    )
    transcripts = spark.createDataFrame(
        pd.DataFrame([("c1", "f1.wav"), ("c1", "f2.wav")], columns=["conv_id", "filename"])
    )
    out = clear_resolved_return_errors(issues, pending, transcripts).toPandas()
    keys = set(zip(out.conv_id, out.filename, out.error_message))
    assert ("c1", "f1.wav", MSG_PENDING) not in keys
    assert ("c1", "f2.wav", MSG_PENDING) in keys
    assert ("c2", "f3.wav", MSG_PENDING) in keys
    assert len(out) == 3


def test_mindlamp_json_bug_adjust(spark):
    """manual_update_utilities/mindlamp_json_bug_adjust.py parity: orphaned
    MP3 rows drop from the MP3 accounting, their JSONs (name transform
    <stem>_sound... -> <stem>.json) drop from the JSON accounting so they
    reprocess, and every orphan-return issue row clears."""
    from daily_journal_dataflow_qc_spark.operators.compile import MSG_ORPHAN_RETURN
    from daily_journal_dataflow_qc_spark.operators.transcript import (
        mindlamp_json_bug_adjust,
    )

    mp3 = spark.createDataFrame(
        pd.DataFrame(
            [
                ("c1", "u1_2023_01_02_sound_7.mp3", True),
                ("c1", "u1_2023_01_03_sound_9.mp3", False),  # orphan
                ("c2", "u2_2023_01_05_sound_1.mp3", False),  # orphan
            ],
            columns=["conv_id", "found_mp3_name", "json_record_existence_check"],
        )
    )
    jsons = spark.createDataFrame(
        pd.DataFrame(
            [
                ("c1", "u1_2023_01_02.json"),
                ("c1", "u1_2023_01_03.json"),  # must drop (reprocess)
                ("c2", "u2_2023_01_05.json"),  # must drop
                ("c2", "u2_2023_01_06.json"),
            ],
            columns=["conv_id", "json_filename"],
        )
    )
    issues = spark.createDataFrame(
        pd.DataFrame(
            [
                ("c1", "u1_2023_01_03_sound_9.mp3", MSG_ORPHAN_RETURN),
                ("c1", "x.wav", MSG_PENDING),
            ],
            columns=["conv_id", "filename", "error_message"],
        )
    )
    mp3_keep, json_keep, issues_keep = mindlamp_json_bug_adjust(mp3, jsons, issues)
    assert [r["found_mp3_name"] for r in mp3_keep.collect()] == [
        "u1_2023_01_02_sound_7.mp3"
    ]
    assert sorted(r["json_filename"] for r in json_keep.collect()) == [
        "u1_2023_01_02.json",
        "u2_2023_01_06.json",
    ]
    kept_issues = issues_keep.toPandas()
    assert MSG_ORPHAN_RETURN not in set(kept_issues.error_message)
    assert len(kept_issues) == 1
