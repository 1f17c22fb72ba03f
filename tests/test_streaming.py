"""Streaming-mode tests (SURVEY §5.2.3): availableNow end-to-end parity with
the batch engine, exactly-once kill/resume, keyed validator flags, and the
stream-stream pending join."""

import os
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from daily_journal_dataflow_qc_spark import schemas as schemas_mod
from daily_journal_dataflow_qc_spark.pipeline import run_batch_from_dir
from daily_journal_dataflow_qc_spark.streaming.job import (
    start_pending_flags_query,
    start_session_qc_query,
)
from daily_journal_dataflow_qc_spark.streaming.state import turn_stream_validator

from .compare_util import compare_frames

QC_COMPARE_COLS = [
    "conv_id",
    "day",
    "daily_submission_number",
    "timeofday",
    "weekday",
    "submit_hour_int",
    "length_minutes",
    "overall_db",
    "mean_flatness",
    "subject_consent_month",
    "audio_approved_bool",
    "filename",
]


def test_streaming_qc_matches_batch(spark, stream_input, synth_dir, cfg):
    out_root = "/tmp/djdq_stream_out1"
    shutil.rmtree(out_root, ignore_errors=True)
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    q, sinks = start_session_qc_query(
        spark, f"{stream_input}/transcripts", out_root, conv_meta, cfg
    )
    q.awaitTermination(600)
    got = sinks["audio_qc"].read(spark).select(*QC_COMPARE_COLS).toPandas()
    want = (
        run_batch_from_dir(spark, synth_dir, cfg)
        .audio_qc.select(*QC_COMPARE_COLS)
        .toPandas()
    )
    compare_frames(
        got,
        want,
        ["conv_id", "day", "daily_submission_number"],
        rounded_atol_cols={"length_minutes": 2e-3},
    )


def test_streaming_exactly_once_kill_resume(spark, stream_input, synth_dir, cfg):
    """Kill after the first micro-batches, restart from the checkpoint.

    Exactly-once contract asserted on the final committed row set vs an
    uninterrupted run: NO session lost, NONE duplicated (the (conv, day,
    session-identity) sets are equal), and every batching-independent
    column identical. Emission BATCHING itself is not restart-stable
    (Spark may regroup the tail emissions after a restart — measured),
    and daily_submission_number is a per-ingest-batch rank BY DESIGN
    (reference semantics, SURVEY §7.3.1), so the rank column is asserted
    for internal validity (the day's earliest session ranks 1) rather than
    cross-run equality."""
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    cols = [
        "conv_id", "day", "submit_hour_int", "timeofday", "weekday",
        "length_minutes", "overall_db", "mean_flatness",
        "subject_consent_month", "daily_submission_number",
    ]

    base_root = "/tmp/djdq_stream_base"
    shutil.rmtree(base_root, ignore_errors=True)
    q, base_sinks = start_session_qc_query(
        spark, f"{stream_input}/transcripts_timed", base_root, conv_meta, cfg,
        max_files_per_trigger=1,
    )
    q.awaitTermination(600)
    baseline = base_sinks["audio_qc"].read(spark).select(*cols).toPandas()

    kill_root = "/tmp/djdq_stream_kill"
    shutil.rmtree(kill_root, ignore_errors=True)
    q2, sinks2 = start_session_qc_query(
        spark, f"{stream_input}/transcripts_timed", kill_root, conv_meta, cfg,
        max_files_per_trigger=1,
    )
    # kill mid-stream: wait for at least one committed batch, then stop
    deadline = time.time() + 300
    while time.time() < deadline:
        if sinks2["audio_qc"].committed(0):
            break
        time.sleep(0.5)
    q2.stop()
    q2.awaitTermination(120)

    # resume from the same checkpoint to completion
    q3, sinks3 = start_session_qc_query(
        spark, f"{stream_input}/transcripts_timed", kill_root, conv_meta, cfg,
        max_files_per_trigger=1,
    )
    q3.awaitTermination(600)
    resumed = sinks3["audio_qc"].read(spark).select(*cols).toPandas()

    # session identity: (conv, day, timeofday) is unique per emitted diary
    # (timeofday is the HH:MM:SS of session_start)
    key = ["conv_id", "day", "timeofday"]
    b = baseline.set_index(key).sort_index()
    r = resumed.set_index(key).sort_index()
    assert not b.index.duplicated().any() and not r.index.duplicated().any()
    assert set(b.index) == set(r.index), (
        f"lost={list(set(b.index) - set(r.index))[:5]} "
        f"dup/extra={list(set(r.index) - set(b.index))[:5]}"
    )
    indep = [
        "submit_hour_int", "weekday", "length_minutes", "overall_db",
        "mean_flatness", "subject_consent_month",
    ]
    compare_frames(
        r.reset_index()[key + indep],
        b.reset_index()[key + indep],
        key,
        rounded_atol_cols={"length_minutes": 2e-3},
    )
    # rank validity within each run: the day's CHRONOLOGICALLY earliest
    # session ranks 1 (4am-shifted days run 04:00 -> 03:59, so sort by the
    # shifted hour — submit_hour_int is +24 for the past-midnight tail —
    # before the HH:MM:SS string)
    for frame in (baseline, resumed):
        first = (
            frame.sort_values(["conv_id", "day", "submit_hour_int", "timeofday"])
            .groupby(["conv_id", "day"])
            .first()
        )
        assert (first.daily_submission_number == 1).all()


def _run_validator_stream(spark, batches):
    """Drive turn_stream_validator as a real streaming query over parquet
    files written in mtime order (one file per micro-batch)."""
    from daily_journal_dataflow_qc_spark import schemas

    root = "/tmp/djdq_validator_in"
    out: list[pd.DataFrame] = []
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    for pdf in batches:
        sdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
        sdf.coalesce(1).write.mode("append").parquet(root)
        time.sleep(1.2)
    turns = (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    flags = turn_stream_validator(turns)
    ckpt = "/tmp/djdq_validator_ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        flags.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: out.append(df.toPandas()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame(columns=["conv_id", "turn_idx", "kind"])


def test_stateful_validator_flags(spark):
    """Duplicate and out-of-order turn_idx arrivals produce exactly the
    expected flag rows, with HWM + exact missing-gap state surviving
    micro-batch boundaries; monotone advance stays silent."""

    def rows(conv, idxs, t0):
        return pd.DataFrame(
            {
                "conv_id": [conv] * len(idxs),
                "turn_idx": pd.array(idxs, dtype="int32"),
                "role": ["S1"] * len(idxs),
                "text": ["x"] * len(idxs),
                "tool": [None] * len(idxs),
                "ts": pd.to_datetime([f"2023-03-01 {t0}:00:{i:02d}" for i in range(len(idxs))]).tz_localize("UTC"),
            }
        )

    # batch 1: c1 advances to hwm=5 with one in-batch re-delivery of 2;
    # batch 2 (separate micro-batch): re-delivery of 1 (duplicate, needs the
    # sketch state from batch 1) and novel 4 (out_of_order, below hwm=5)
    b1 = pd.concat([rows("c1", [1, 2, 3, 2, 5], "10"), rows("c2", [1, 2], "11")])
    b2 = rows("c1", [1, 4, 6], "12")
    flags = _run_validator_stream(spark, [b1, b2])
    c1 = flags[flags.conv_id == "c1"]
    assert set(zip(c1.turn_idx, c1.kind)) == {
        (2, "duplicate"),
        (1, "duplicate"),
        (4, "out_of_order"),
    }, flags.to_dict("records")
    assert len(flags[flags.conv_id == "c2"]) == 0


class _FakeGroupState:
    """In-memory stand-in for the GroupState handle validate_conv reads."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_validator_labels_exact_property():
    """Property (hypothesis): across arbitrary batched delivery orders, the
    validator's duplicate / out_of_order / silent-advance labels equal the
    sequential seen-set spec EXACTLY — the guarantee the old count-min
    sketch could not give on long conversations (saturation mislabeled
    legitimate late arrivals as duplicates)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from daily_journal_dataflow_qc_spark.streaming.state import validate_conv

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=25),
            min_size=1,
            max_size=6,
        )
    )
    def run(batches):
        state = _FakeGroupState()
        seen: set[int] = set()
        hwm = -1
        for b in batches:
            pdf = pd.DataFrame(
                {
                    "conv_id": ["c"] * len(b),
                    "turn_idx": pd.array(b, dtype="int64"),
                    "ts": pd.to_datetime(
                        [f"2023-03-01 10:00:{i:02d}" for i in range(len(b))]
                    ),
                }
            )
            out = list(validate_conv(("c",), iter([pdf]), state))
            got = (
                pd.concat(out).groupby(["turn_idx", "kind"]).size().to_dict()
                if out
                else {}
            )
            # sequential seen-set reference (ts strictly increases with
            # position, so the validator's (ts, turn_idx) sort is the
            # delivery order)
            want: dict = {}
            for idx in b:
                if idx in seen:
                    want[(idx, "duplicate")] = want.get((idx, "duplicate"), 0) + 1
                elif idx > hwm:
                    seen.add(idx)
                    hwm = idx
                else:
                    want[(idx, "out_of_order")] = want.get((idx, "out_of_order"), 0) + 1
                    seen.add(idx)
            assert got == want, (b, got, want)

    run()


def test_validator_rejects_corrupt_index_jump():
    """The O(gaps) state contract is guarded: a turn_idx jump beyond
    MAX_GAP_RUN is corrupt data and fails loudly instead of materializing
    an index-jump-sized gap set."""
    from daily_journal_dataflow_qc_spark.streaming.state import (
        MAX_GAP_RUN,
        validate_conv,
    )

    pdf = pd.DataFrame(
        {
            "conv_id": ["c", "c"],
            "turn_idx": pd.array([1, MAX_GAP_RUN + 10], dtype="int64"),
            "ts": pd.to_datetime(["2023-03-01 10:00:00", "2023-03-01 10:00:01"]),
        }
    )
    with pytest.raises(ValueError, match="MAX_GAP_RUN"):
        list(validate_conv(("c",), iter([pdf]), _FakeGroupState()))


def test_streaming_transcript_side_matches_batch(spark, stream_input, synth_dir, cfg):
    """With returned-gating on, the streaming transcript QC + per-turn stats
    equal the batch engine's (both compute only accepted+returned diaries;
    the batch input stream contains every return, so gating converges)."""
    out_root = "/tmp/djdq_stream_tside"
    shutil.rmtree(out_root, ignore_errors=True)
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    q, sinks = start_session_qc_query(
        spark,
        f"{stream_input}/transcripts",
        out_root,
        conv_meta,
        cfg,
        tool_calls_dir=f"{stream_input}/tool_calls",
    )
    q.awaitTermination(600)

    batch = run_batch_from_dir(spark, synth_dir, cfg)

    got_ts = sinks["turn_stats"].read(spark).toPandas()
    want_ts = batch.turn_stats.toPandas()
    compare_frames(got_ts, want_ts, ["conv_id", "turn_idx"])

    tqc_cols = [
        "conv_id", "day", "daily_submission_number", "speakerID_count",
        "S1_sentence_count", "total_sentence_count", "word_count",
        "min_words_in_sen", "max_words_in_sen", "inaudible_count",
        "questionable_count", "other_bracketed_notation_count",
        "redacted_count", "txt_encoding_type",
    ]
    got_tqc = sinks["transcript_qc"].read(spark).select(*tqc_cols).toPandas()
    want_tqc = batch.transcript_qc.select(*tqc_cols).toPandas()
    compare_frames(got_tqc, want_tqc, ["conv_id", "day", "daily_submission_number"])

    disf_cols = [
        "conv_id", "day", "daily_submission_number", "transcript_csv_name",
        "length_minutes", "total_word_count", "nonverbal_edits_count",
        "verbal_edits_count", "repeats_count", "restarts_count",
        "total_disfluencies", "disfluencies_per_minute",
    ]
    got_d = sinks["disfluencies"].read(spark).select(*disf_cols).toPandas()
    want_d = batch.disfluencies.select(*disf_cols).toPandas()
    compare_frames(got_d, want_d, ["conv_id", "day", "daily_submission_number"])


def test_session_agg_state_carries_no_turn_payload(spark, stream_input, cfg):
    """Structural guard for the O(1)-ish state north star: the session
    aggregate may keep scalar sums and (ts, word_count) pairs, but no text
    or other per-turn payload may transit streaming aggregation state."""
    from pyspark.sql.types import ArrayType, StructType

    from daily_journal_dataflow_qc_spark import schemas
    from daily_journal_dataflow_qc_spark.streaming.job import (
        session_qc_aggregate,
        turn_projection,
    )

    turns = spark.readStream.schema(schemas.TRANSCRIPTS).parquet(
        f"{stream_input}/transcripts"
    )
    agg = session_qc_aggregate(turn_projection(turns), cfg)
    for field in agg.schema.fields:
        if isinstance(field.dataType, ArrayType) and isinstance(
            field.dataType.elementType, StructType
        ):
            names = {f.name for f in field.dataType.elementType.fields}
            assert names <= {"ts", "word_count"}, (
                f"collected array {field.name!r} carries per-turn payload: {names}"
            )


def test_turn_stats_rebuild_watermark_exact_and_replay_converges(
    spark, synth_dir, cfg
):
    """Arrival-time-exact late handling (round-3's documented divergence,
    investigated and closed):

    1. LIVE run with staged admission: a sub-watermark row admitted in the
       SAME batch as its session's eviction MERGES into the session
       (measured Spark semantics — sessions accept late rows while their
       state lives). The diary counts it, and the foreachBatch turn-stats
       rebuild — scoped to admitted files in the eviction batch — includes
       it identically: per-diary turn_stats row counts equal the diary's
       total_sentence_count for EVERY diary.
    2. REPLAY from a fresh checkpoint (the reference's cron re-run,
       mindlamp_accounting.py:154-158): everything admits in one batch, no
       watermark exists, and the result equals the batch engine EXACTLY.

    The post-eviction drop side is covered by
    test_post_eviction_late_row_dropped_consistently.
    """
    import time as _time

    from daily_journal_dataflow_qc_spark.pipeline import run_batch

    root = "/tmp/djdq_late_input"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(f"{root}/transcripts")
    tr = spark.read.parquet(f"{synth_dir}/transcripts.parquet")
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    max_ts = tr.agg(F.max("ts")).head()[0]

    # inject the late row into a diary that actually REACHES the per-turn
    # sink (accepted + returned + clean): pick one from the batch engine's
    # own turn_stats, with >= 2 turns, early enough that the final
    # watermark (max ts - 2 days) is far above the session
    base_ts = run_batch_from_dir(spark, synth_dir, cfg).turn_stats.select(
        "conv_id", "turn_idx", "day", "daily_submission_number"
    ).toPandas()
    sizes = base_ts.groupby(["conv_id", "day", "daily_submission_number"]).size()
    target_conv = None
    for (conv, day, dsn), n in sizes.items():
        if n < 2:
            continue
        idxs = sorted(
            base_ts[
                (base_ts.conv_id == conv)
                & (base_ts.day == day)
                & (base_ts.daily_submission_number == dsn)
            ].turn_idx
        )[:2]
        two = (
            tr.filter((F.col("conv_id") == conv) & F.col("turn_idx").isin(idxs))
            .orderBy("ts")
            .toPandas()
        )
        if (
            len(two) == 2
            and (two.ts.iloc[1] - two.ts.iloc[0]).total_seconds() > 2
            and two.ts.iloc[1] < pd.Timestamp(max_ts) - pd.Timedelta(days=3)
        ):
            target_conv = conv
            late_ts = two.ts.iloc[0] + (two.ts.iloc[1] - two.ts.iloc[0]) / 2
            break
    assert target_conv is not None, "no suitable diary in the fixture"
    late_idx = int(
        tr.filter(F.col("conv_id") == target_conv).agg(F.max("turn_idx")).head()[0] + 1
    )
    late = spark.createDataFrame(
        [
            (
                target_conv,
                late_idx,
                "S1",
                "late arrival row",
                None,
                late_ts.to_pydatetime(),
            )
        ],
        schema=tr.schema,
    )

    tr.repartition(6, "conv_id").write.mode("overwrite").parquet(f"{root}/transcripts")
    _time.sleep(1.2)
    late.coalesce(1).write.mode("append").parquet(f"{root}/transcripts")
    _time.sleep(1.2)
    sentinel = late.select(
        F.lit("__sentinel__").alias("conv_id"),
        F.lit(1).cast("int").alias("turn_idx"),
        F.lit("S1").alias("role"),
        F.lit("end").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2090-01-01 00:00:00")).alias("ts"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(f"{root}/transcripts")
    os.makedirs(f"{root}/tool_calls")
    spark.read.parquet(f"{synth_dir}/tool_calls.parquet").repartition(
        4, "conv_id"
    ).write.mode("overwrite").parquet(f"{root}/tool_calls")

    # ---- live run: 6 main files in batch 0, then late file, then sentinel
    out_live = "/tmp/djdq_late_out_live"
    shutil.rmtree(out_live, ignore_errors=True)
    q, sinks = start_session_qc_query(
        spark, f"{root}/transcripts", out_live, conv_meta, cfg,
        max_files_per_trigger=6, tool_calls_dir=f"{root}/tool_calls",
    )
    q.awaitTermination(600)
    ts_live = sinks["turn_stats"].read(spark).toPandas()
    tqc_live = sinks["transcript_qc"].read(spark).toPandas()
    # the sub-watermark row MERGED: counted by the diary AND rebuilt
    assert ((ts_live.conv_id == target_conv) & (ts_live.turn_idx == late_idx)).any()
    # every diary's turn_stats row count equals its sentence count
    got_counts = (
        ts_live.groupby(["conv_id", "day", "daily_submission_number"])
        .size()
        .rename("n")
        .reset_index()
    )
    want_counts = (
        tqc_live.groupby(["conv_id", "day", "daily_submission_number"])[
            "total_sentence_count"
        ]
        .sum()
        .reset_index()
    )
    m = got_counts.merge(
        want_counts, on=["conv_id", "day", "daily_submission_number"], how="outer"
    )
    assert not m.n.isna().any() and not m.total_sentence_count.isna().any()
    assert (m.n == m.total_sentence_count).all(), m[m.n != m.total_sentence_count]

    # ---- replay run (fresh checkpoint, single admission batch)
    out_replay = "/tmp/djdq_late_out_replay"
    shutil.rmtree(out_replay, ignore_errors=True)
    q2, sinks2 = start_session_qc_query(
        spark, f"{root}/transcripts", out_replay, conv_meta, cfg,
        tool_calls_dir=f"{root}/tool_calls",
    )
    q2.awaitTermination(600)
    ts_replay = sinks2["turn_stats"].read(spark).toPandas()
    assert ((ts_replay.conv_id == target_conv) & (ts_replay.turn_idx == late_idx)).any()

    batch = run_batch(
        spark.read.parquet(f"{root}/transcripts"),
        spark.read.parquet(f"{root}/tool_calls"),
        conv_meta,
        cfg,
    )
    compare_frames(ts_replay, batch.turn_stats.toPandas(), ["conv_id", "turn_idx"])
    tqc_cols = [
        "conv_id", "day", "daily_submission_number", "total_sentence_count",
        "word_count", "min_timestamp_space_seconds", "max_timestamp_space_seconds",
    ]
    compare_frames(
        sinks2["transcript_qc"].read(spark).select(*tqc_cols).toPandas(),
        batch.transcript_qc.select(*tqc_cols).toPandas(),
        ["conv_id", "day", "daily_submission_number"],
    )


@pytest.mark.parametrize("backend", ["session_window"])
def test_post_eviction_late_row_dropped_consistently(spark, cfg, backend):
    """A sub-watermark row arriving AFTER its session's state was evicted
    is silently dropped by the declarative session aggregate — and the
    turn-stats rebuild never resurrects it: the live tier stays internally
    exact (turn counts == diary counts), the batch tier counts the row,
    and a fresh REPLAY converges to the batch tier (the reference's cron
    re-run model)."""
    import time as _time

    from daily_journal_dataflow_qc_spark import schemas
    from daily_journal_dataflow_qc_spark.pipeline import run_batch

    root = f"/tmp/djdq_postevict_{backend}"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(f"{root}/transcripts")
    os.makedirs(f"{root}/tool_calls")

    T = pd.Timestamp("2023-01-01 10:00:00")

    def write_rows(rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS).coalesce(1).write.mode(
            "append"
        ).parquet(f"{root}/transcripts")
        _time.sleep(1.2)

    # b0: convZ session (2 turns) + a high-ts convW row advancing the watermark
    write_rows(
        [
            ("convZ", 1, "S1", "hello there world", None, T.to_pydatetime()),
            ("convZ", 2, "S1", "second turn text", None,
             (T + pd.Timedelta(seconds=60)).to_pydatetime()),
            ("convW", 1, "S1", "w", None,
             pd.Timestamp("2023-03-05 10:00:00").to_pydatetime()),
        ]
    )
    # b1: filler — convZ's session evicts during this batch
    write_rows(
        [("convW", 2, "S1", "w2", None,
          pd.Timestamp("2023-03-05 10:01:00").to_pydatetime())]
    )
    # b2: the POST-EVICTION late row inside convZ's already-emitted session
    write_rows(
        [("convZ", 99, "S1", "late arrival", None,
          (T + pd.Timedelta(seconds=30)).to_pydatetime())]
    )
    # b3: far-future sentinel closes everything
    write_rows(
        [("__sentinel__", 1, "S1", "end", None,
          pd.Timestamp("2090-01-01 00:00:00").to_pydatetime())]
    )

    conv_meta = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["convZ", "convW"],
                "consent_date": [T.date(), pd.Timestamp("2023-03-05").date()],
                "timezone": ["UTC", "UTC"],
                "language": ["ENGLISH", "ENGLISH"],
                "db_level": [60.0, 60.0],
                "duration_sec": [120.0, 120.0],
                "flatness": [0.1, 0.1],
            }
        )
    )
    # tool-call round trip under the language-marked exchange name (S10)
    marked = "convZ_audioJournal_day0001_ENGLISH_submission1.wav"
    tc = pd.DataFrame(
        {
            "conv_id": ["convZ", "convZ"],
            "request_key": [marked, marked],
            "kind": ["request", "return"],
            "tool": ["transcribeme", "transcribeme"],
            "ts": [
                (T + pd.Timedelta(hours=1)).tz_localize("UTC"),
                (T + pd.Timedelta(hours=2)).tz_localize("UTC"),
            ],
            "payload": [None, None],
        }
    )
    spark.createDataFrame(tc, schema=schemas.TOOL_CALLS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{root}/tool_calls")

    out_live = f"/tmp/djdq_postevict_live_{backend}"
    shutil.rmtree(out_live, ignore_errors=True)
    q, sinks = start_session_qc_query(
        spark, f"{root}/transcripts", out_live, conv_meta, cfg,
        max_files_per_trigger=1, tool_calls_dir=f"{root}/tool_calls",
    )
    q.awaitTermination(600)
    ts_live = sinks["turn_stats"].read(spark).toPandas()
    tqc_live = sinks["transcript_qc"].read(spark).toPandas()
    z = tqc_live[tqc_live.conv_id == "convZ"]
    assert len(z) == 1 and int(z.total_sentence_count.iloc[0]) == 2
    zt = ts_live[ts_live.conv_id == "convZ"]
    assert sorted(zt.turn_idx) == [1, 2], zt  # late idx 99 nowhere
    # batch tier counts the late row — the divergence is exactly that row
    batch = run_batch(
        spark.read.parquet(f"{root}/transcripts"),
        spark.read.parquet(f"{root}/tool_calls"),
        conv_meta,
        cfg,
    )
    bt = batch.transcript_qc.toPandas()
    assert int(bt[bt.conv_id == "convZ"].total_sentence_count.iloc[0]) == 3
    # replay (fresh checkpoint, one admission batch) converges to batch
    out_replay = f"/tmp/djdq_postevict_replay_{backend}"
    shutil.rmtree(out_replay, ignore_errors=True)
    q2, sinks2 = start_session_qc_query(
        spark, f"{root}/transcripts", out_replay, conv_meta, cfg,
        tool_calls_dir=f"{root}/tool_calls",
    )
    q2.awaitTermination(600)
    ts_replay = sinks2["turn_stats"].read(spark).toPandas()
    assert sorted(ts_replay[ts_replay.conv_id == "convZ"].turn_idx) == [1, 2, 99]
    compare_frames(
        ts_replay, batch.turn_stats.toPandas(), ["conv_id", "turn_idx"]
    )


def test_streaming_metrics_listener(spark, stream_input, cfg):
    """§2.10 per-batch lineage/metrics: every micro-batch of a streaming
    query lands a metrics row (rows in, latency, state size) in the log."""
    from daily_journal_dataflow_qc_spark.streaming.job import start_validator_query
    from daily_journal_dataflow_qc_spark.streaming.metrics import (
        attach_metrics,
        detach_metrics,
        read_metrics,
    )

    log = "/tmp/djdq_metrics/metrics.jsonl"
    shutil.rmtree("/tmp/djdq_metrics", ignore_errors=True)
    out_root = "/tmp/djdq_metrics_out"
    shutil.rmtree(out_root, ignore_errors=True)
    listener = attach_metrics(spark, log)
    try:
        q, _ = start_validator_query(
            spark, f"{stream_input}/transcripts", out_root, max_files_per_trigger=3
        )
        q.awaitTermination(300)
        # listener delivery is async — wait for the progress events to drain
        deadline = time.time() + 30
        while time.time() < deadline:
            if os.path.isfile(log) and len(open(log).readlines()) >= 2:
                break
            time.sleep(0.5)
    finally:
        detach_metrics(spark, listener)

    m = read_metrics(spark, log).toPandas()
    m = m[m.query_id == str(q.id)]
    assert len(m) >= 2, "expected one metrics row per micro-batch"
    assert m.num_input_rows.sum() > 0
    assert (m.trigger_ms > 0).all()
    # the keyed validator is a stateful operator: state rows must be tracked
    assert (m.n_state_operators >= 1).any()
    assert m.state_rows_total.dropna().max() > 0


def test_streaming_pending_flags_match_batch(spark, stream_input, synth_dir, cfg):
    """Stream-stream left-outer join: requests unmatched within the deadline
    == EXACTLY the batch engine's pending-flag key set (first-arrival dedup,
    exhausted-retry keys excluded) for requests old enough that the final
    watermark passed their deadline."""
    out_root = "/tmp/djdq_stream_pending"
    shutil.rmtree(out_root, ignore_errors=True)
    q, sink = start_pending_flags_query(spark, f"{stream_input}/tool_calls", out_root, cfg)
    q.awaitTermination(600)
    got = sink.read(spark).toPandas()

    tc = pd.read_parquet(f"{synth_dir}/tool_calls.parquet")
    req = tc[tc.kind == "request"]
    ret = tc[tc.kind == "return"]
    ret_keys = set(zip(ret.conv_id, ret.request_key))
    # batch issues_set semantics: attempts = distinct request ts per key;
    # >= max_push_attempts with no return -> upload-failed, NOT pending
    att = (
        req.drop_duplicates(["conv_id", "request_key", "ts"])
        .groupby(["conv_id", "request_key"])
        .size()
    )
    exhausted = {
        k for k, n in att.items()
        if n >= cfg.max_push_attempts and k not in ret_keys
    }
    # the global watermark is the MIN across both inputs' watermarks
    # (each = max event time seen - 1h delay); ages use the FIRST arrival.
    # A key whose return arrived AFTER the deadline is still flagged — the
    # reference raises the pending flag at the 2-week cron and the issues
    # log never forgets it (that is what transcribeme_return_error_clear
    # exists to clean up); only within-deadline returns suppress the flag.
    first_ts = req.groupby(["conv_id", "request_key"]).ts.min()
    ret_first = ret.groupby(["conv_id", "request_key"]).ts.min()
    wm = min(req.ts.max(), ret.ts.max()) - pd.Timedelta(hours=1)
    deadline = pd.Timedelta(days=14)
    expect = {
        k
        for k, t in first_ts.items()
        if k not in exhausted
        and (k not in ret_first.index or ret_first[k] > t + deadline)
        and t + deadline < wm
    }
    got_keys = set(zip(got.conv_id, got.filename))
    assert expect, "fixture produced no pending candidates"
    assert exhausted, "fixture produced no exhausted-retry keys (S8 datagen)"
    assert got_keys == expect, (
        f"pending set mismatch: missing={sorted(expect - got_keys)[:5]} "
        f"extra={sorted(got_keys - expect)[:5]}"
    )
    # first-arrival dedup: exactly one row per pending key
    assert len(got) == len(got_keys), "duplicate pending rows for a retried key"


def test_submit_entrypoint_local(spark, stream_input, synth_dir):
    """The spark-submit entrypoint (scripts/submit_streaming_job.py) drives
    the full job in --local mode: zip builds, sinks + checkpoint + metrics
    land under the output root, and a second invocation resumes from the
    checkpoint as a no-op (exactly-once)."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(repo, "scripts", "submit_streaming_job.py")

    zip_path = "/tmp/djdq_submit_test.zip"
    out_root = "/tmp/djdq_submit_test_out"
    shutil.rmtree(out_root, ignore_errors=True)
    r = subprocess.run(
        [sys.executable, script, "--build-zip", zip_path],
        capture_output=True, text=True, check=True,
    )
    assert os.path.getsize(zip_path) > 10_000

    cmd = [
        sys.executable, script, "--local", "2",
        "--input", f"{stream_input}/transcripts",
        "--output", out_root,
        "--conv-meta", f"{synth_dir}/conv_meta.parquet",
    ]
    subprocess.run(cmd, capture_output=True, text=True, check=True, timeout=420)
    assert os.path.isdir(f"{out_root}/_checkpoint_qc")
    n1 = len(os.listdir(f"{out_root}/audio_qc"))
    assert n1 > 0
    assert os.path.isfile(f"{out_root}/metrics.jsonl")
    # resume: availableNow over an unchanged input is an exactly-once no-op
    subprocess.run(cmd, capture_output=True, text=True, check=True, timeout=420)
    assert len(os.listdir(f"{out_root}/audio_qc")) == n1


def test_catalog_table_streaming_e2e(spark, stream_input, synth_dir, cfg):
    """North-star addressing end-to-end: BOTH streaming sources given as
    catalog tables (the Iceberg path — readStream.table admission, batch
    re-reads + key-store ingestion dispatched through read_table). Guards
    the ADVICE r04 regression: the foreachBatch fallbacks used to call
    spark.read.parquet(<dotted name>) (AnalysisException) and the key store
    silently ingested nothing from a table source (empty returned-gate ->
    zero transcript-side rows)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS cat_e2e")
    for name, src, schema in [
        ("transcripts", f"{stream_input}/transcripts", schemas_mod.TRANSCRIPTS),
        ("tool_calls", f"{stream_input}/tool_calls", schemas_mod.TOOL_CALLS),
    ]:
        spark.sql(f"DROP TABLE IF EXISTS cat_e2e.{name}")
        spark.read.schema(schema).parquet(src).write.saveAsTable(f"cat_e2e.{name}")

    out_root = "/tmp/djdq_stream_catalog"
    shutil.rmtree(out_root, ignore_errors=True)
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    q, sinks = start_session_qc_query(
        spark, "cat_e2e.transcripts", out_root, conv_meta, cfg,
        tool_calls_dir="cat_e2e.tool_calls",
    )
    q.awaitTermination(600)

    batch = run_batch_from_dir(spark, synth_dir, cfg)
    got_qc = sinks["audio_qc"].read(spark).select(*QC_COMPARE_COLS).toPandas()
    want_qc = batch.audio_qc.select(*QC_COMPARE_COLS).toPandas()
    compare_frames(
        got_qc, want_qc, ["conv_id", "day", "daily_submission_number"],
        rounded_atol_cols={"length_minutes": 2e-3},
    )
    # transcript side is the part that silently emptied before the fix
    got_ts = sinks["turn_stats"].read(spark).toPandas()
    want_ts = batch.turn_stats.toPandas()
    assert len(got_ts) > 0
    compare_frames(got_ts, want_ts, ["conv_id", "turn_idx"])
    got_tqc = sinks["transcript_qc"].read(spark).toPandas()
    assert len(got_tqc) == batch.transcript_qc.count()

    # pending-flags query from the same catalog table: key set == batch tier
    pend_root = "/tmp/djdq_stream_catalog_pending"
    shutil.rmtree(pend_root, ignore_errors=True)
    q2, psink = start_pending_flags_query(spark, "cat_e2e.tool_calls", pend_root, cfg)
    q2.awaitTermination(600)
    got_pending = set(
        zip(*(lambda p: (p.conv_id, p.filename))(psink.read(spark).toPandas()))
    )
    file_root = "/tmp/djdq_stream_catalog_pending_files"
    shutil.rmtree(file_root, ignore_errors=True)
    q3, fsink = start_pending_flags_query(
        spark, f"{stream_input}/tool_calls", file_root, cfg
    )
    q3.awaitTermination(600)
    fp = fsink.read(spark).toPandas()
    assert got_pending == set(zip(fp.conv_id, fp.filename))
    assert got_pending, "fixture produced no pending keys"
    for name in ("transcripts", "tool_calls"):
        spark.sql(f"DROP TABLE cat_e2e.{name}")


def test_streamed_files_incremental_parse(tmp_path, monkeypatch):
    """VERDICT r04 #3: the admitted-file scan must be incremental — a
    60-micro-batch stream parses each committed metadata-log file ONCE
    (per-trigger parse work = that trigger's new files, not O(total)), and
    the (mtime, size) fingerprint invalidates a recreated checkpoint."""
    import json as _json

    from daily_journal_dataflow_qc_spark.streaming import job

    cp = tmp_path / "cp"
    src = cp / "sources" / "0"
    src.mkdir(parents=True)
    calls = {"n": 0}
    real_loads = _json.loads

    def counting(s, *a, **k):
        calls["n"] += 1
        return real_loads(s, *a, **k)

    monkeypatch.setattr(job.json, "loads", counting)
    per_trigger = []
    for b in range(60):
        (src / str(b)).write_text(
            "v1\n" + _json.dumps({"path": f"/data/f{b}.parquet"}) + "\n"
        )
        before = calls["n"]
        got = job._streamed_files(str(cp), b)
        per_trigger.append(calls["n"] - before)
        assert got == sorted(f"/data/f{i}.parquet" for i in range(b + 1))
    # FLAT: exactly the one new entry parsed per trigger, every trigger
    assert per_trigger == [1] * 60, per_trigger
    # a later batch id with no new files parses nothing at all
    before = calls["n"]
    assert job._streamed_files(str(cp), 59) is not None
    assert calls["n"] == before
    # recreated checkpoint at the same path: fingerprint mismatch re-parses
    (src / "0").write_text(
        "v1\n" + _json.dumps({"path": "/data/other.parquet"}) + "\n"
    )
    got = job._streamed_files(str(cp), 0)
    assert got == ["/data/other.parquet"]


def test_pending_flag_single_row_for_late_retry(spark, cfg):
    """ADVICE r04: a retry of the same (conv_id, request_key) arriving >1h
    of EVENT time after the first request outlives the
    dropDuplicatesWithinWatermark state and re-enters the stream-stream
    join — the sink must still emit exactly ONE pending row per key (the
    batch tier ages the min request ts), via in-batch keep-earliest +
    the committed-keys anti-join."""
    from daily_journal_dataflow_qc_spark import schemas

    root = "/tmp/djdq_pending_late_retry"
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/tool_calls"
    os.makedirs(src)

    t0 = pd.Timestamp("2023-03-01 10:00:00", tz="UTC")

    def tc(rows):
        return pd.DataFrame(
            {
                "conv_id": [r[0] for r in rows],
                "request_key": [r[1] for r in rows],
                "kind": [r[3] if len(r) > 3 else "request" for r in rows],
                "tool": ["transcribeme"] * len(rows),
                "ts": [r[2] for r in rows],
                "payload": [None] * len(rows),
            }
        )

    # Shape MEASURED against the raw join (which emits k.wav TWICE for it —
    # the guard is what collapses them): every pusher batch carries a RETURN
    # row too (the global watermark is the MIN over both join inputs', and a
    # returns side that never sees a row never advances — the join would
    # never emit), and TWO pusher batches precede the retry (state cleanup
    # runs against the PREVIOUS batch's watermark, so eviction of the t0
    # dedup entry lands one batch after the watermark first passes t0+1h).
    H = pd.Timedelta
    batches = [
        tc([("c1", "k.wav", t0), ("c2", "x.wav", t0)]),
        tc([
            ("c9", "wm1.wav", t0 + H(hours=6)),
            ("c9", "wm1.wav", t0 + H(hours=6), "return"),
        ]),
        tc([
            ("c9", "wm2.wav", t0 + H(hours=9)),
            ("c9", "wm2.wav", t0 + H(hours=9), "return"),
        ]),
        # the late RETRY: 10h after the first request, well past the 1h
        # dedup watermark and above the current global watermark (t0+8h)
        tc([("c1", "k.wav", t0 + H(hours=10))]),
        # final pusher: watermark sails past every deadline at once
        tc([
            ("c9", "wm3.wav", t0 + H(days=40)),
            ("c9", "wm3.wav", t0 + H(days=40), "return"),
        ]),
    ]
    for pdf in batches:
        spark.createDataFrame(pdf, schema=schemas.TOOL_CALLS).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.2)

    out_root = f"{root}/out"
    q, sink = start_pending_flags_query(
        spark, src, out_root, cfg, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    got = sink.read(spark).toPandas()
    per_key = got.groupby(["conv_id", "filename"]).size()
    assert per_key.get(("c1", "k.wav"), 0) == 1, got.to_string()
    assert per_key.get(("c2", "x.wav"), 0) == 1
    # the retry must not have displaced the first-request age
    k_rows = got[(got.conv_id == "c1") & (got.filename == "k.wav")]
    assert pd.Timestamp(k_rows.iloc[0]["req_ts"], tz="UTC") == t0
