"""Streaming-mode tests (SURVEY §5.2.3): availableNow end-to-end parity with
the batch engine, exactly-once kill/resume, keyed validator flags, and the
gated query's pending flags."""

import dataclasses
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from daily_journal_dataflow_qc_spark import schemas as schemas_mod
from daily_journal_dataflow_qc_spark.operators.compile import MSG_PENDING
from daily_journal_dataflow_qc_spark.pipeline import run_batch_from_dir
from daily_journal_dataflow_qc_spark.streaming.job import start_session_qc_query
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


@pytest.fixture(scope="module")
def ungated_sinks(spark, stream_input, synth_dir, cfg, tmp_path_factory):
    """One ungated availableNow drain of the 6-file fixture, shared by the
    batch-parity and the layout tests."""
    out_root = str(tmp_path_factory.mktemp("ungated"))
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    q, sinks = start_session_qc_query(
        spark, f"{stream_input}/transcripts", out_root, conv_meta, cfg
    )
    q.awaitTermination(600)
    return sinks


def test_streaming_qc_matches_batch(spark, ungated_sinks, synth_dir, cfg):
    """Each conversation lands in one file, so the per-batch submission rank
    equals the batch rank: the audio_qc sink equals the batch audio_qc, the
    accepted sink its audio-accepted rows and the rejected sink the batch
    rejected set."""
    batch = run_batch_from_dir(spark, synth_dir, cfg)
    want_qc = batch.audio_qc.select(*QC_COMPARE_COLS)
    for sink, want in [
        ("audio_qc", want_qc),
        ("accepted", want_qc.filter(F.col("audio_approved_bool") == 1)),
        ("rejected", batch.rejected),
    ]:
        want = want.toPandas()
        assert len(want), sink
        compare_frames(
            ungated_sinks[sink].read(spark).select(*want.columns).toPandas(),
            want,
            ["conv_id", "day", "daily_submission_number"],
            rounded_atol_cols={"length_minutes": 2e-3},
        )


def test_streaming_exactly_once_kill_resume(spark, stream_input, synth_dir, cfg, tmp_path):
    """Kill after the first micro-batches, restart from the checkpoint.

    Exactly-once contract asserted on the final committed row set of each
    of the three diary sinks vs an uninterrupted run: NO session lost, NONE
    duplicated (the (conv, day, session-identity) sets are equal), and
    every batching-independent column identical. Emission BATCHING itself
    is not restart-stable (Spark may regroup the tail emissions after a
    restart — measured), and daily_submission_number is a per-ingest-batch
    rank BY DESIGN (reference semantics, SURVEY §7.3.1), so the rank column
    is asserted for internal validity (the day's earliest session ranks 1)
    rather than cross-run equality. The rank decides the accepted/rejected
    split, so those two sinks are each asserted to hold exactly their
    share of the run's own audio_qc rows, no row lost or written twice."""
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    cols = [
        "conv_id", "day", "submit_hour_int", "timeofday", "weekday",
        "length_minutes", "overall_db", "mean_flatness",
        "subject_consent_month", "daily_submission_number",
    ]

    def drain(root):
        return start_session_qc_query(
            spark, f"{stream_input}/transcripts_timed", root, conv_meta, cfg,
            max_files_per_trigger=1,
        )

    def read(sinks):
        return {n: sinks[n].read(spark).toPandas() for n in SINK_LAYOUTS}

    q, base_sinks = drain(str(tmp_path / "base"))
    q.awaitTermination(600)
    base = read(base_sinks)

    kill_root = str(tmp_path / "kill")
    q2, sinks2 = drain(kill_root)
    # kill mid-stream: wait for at least one committed batch, then stop
    deadline = time.time() + 300
    while time.time() < deadline:
        if sinks2["audio_qc"].committed(0):
            break
        time.sleep(0.5)
    q2.stop()
    q2.awaitTermination(120)

    # resume from the same checkpoint to completion
    q3, sinks3 = drain(kill_root)
    q3.awaitTermination(600)
    resumed = read(sinks3)

    # session identity: (conv, day, timeofday) is unique per emitted diary
    # (timeofday is the HH:MM:SS of session_start)
    key = ["conv_id", "day", "timeofday"]
    b = base["audio_qc"][cols].set_index(key).sort_index()
    r = resumed["audio_qc"][cols].set_index(key).sort_index()
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
    for run in (base, resumed):
        qc = run["audio_qc"]
        # rank validity: the day's CHRONOLOGICALLY earliest session ranks 1
        # (4am-shifted days run 04:00 -> 03:59, so sort by the shifted hour
        # — submit_hour_int is +24 for the past-midnight tail — before the
        # HH:MM:SS string)
        first = (
            qc.sort_values(["conv_id", "day", "submit_hour_int", "timeofday"])
            .groupby(["conv_id", "day"])
            .first()
        )
        assert (first.daily_submission_number == 1).all()
        # accepted and rejected: each exactly its share of audio_qc, as a
        # multiset of rows in the sink's own layout
        approved = qc.audio_approved_bool == 1
        for sink, rows in [("accepted", qc[approved]), ("rejected", qc[~approved])]:
            layout = list(run[sink].columns)
            compare_frames(run[sink], rows[layout], layout)


def _run_validator_stream(spark, batches, tmp_path):
    """Drive turn_stream_validator as a real streaming query over parquet
    files written in mtime order (one file per micro-batch)."""
    from daily_journal_dataflow_qc_spark import schemas

    root = str(tmp_path / "in")
    out: list[pd.DataFrame] = []
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
    ckpt = str(tmp_path / "ckpt")
    q = (
        flags.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: out.append(df.toPandas()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame(columns=["conv_id", "turn_idx", "kind"])


def test_stateful_validator_flags(spark, tmp_path):
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
    flags = _run_validator_stream(spark, [b1, b2], tmp_path)
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


@pytest.fixture(scope="module")
def gated_sinks(spark, stream_input, synth_dir, cfg, tmp_path_factory):
    """One gated availableNow drain of the pre-landed fixture (every tool
    call lands before the first batch), shared by the transcript-side and
    pending-flag tests."""
    out_root = str(tmp_path_factory.mktemp("gated"))
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
    return sinks


def test_streaming_transcript_side_matches_batch(spark, gated_sinks, synth_dir, cfg):
    """With returned-gating on, the streaming transcript QC + per-turn stats
    equal the batch engine's (both compute only accepted+returned diaries;
    the batch input stream contains every return, so gating converges)."""
    sinks = gated_sinks
    batch = run_batch_from_dir(spark, synth_dir, cfg)

    got_ts = sinks["turn_stats"].read(spark).toPandas()
    want_ts = batch.turn_stats.toPandas()
    compare_frames(got_ts, want_ts, ["conv_id", "turn_idx"])

    key = ["conv_id", "day", "daily_submission_number"]
    for sink, want in [
        ("transcript_qc", batch.transcript_qc),
        ("disfluencies", batch.disfluencies),
    ]:
        compare_frames(sinks[sink].read(spark).toPandas(), want.toPandas(), key)


#: the declared layout of each sink of the ungated and of the gated query
SINK_LAYOUTS = {
    "audio_qc": schemas_mod.AUDIO_QC,
    "accepted": schemas_mod.AUDIO_QC,  # the audio-accepted subset
    "rejected": schemas_mod.REJECTED,
}
GATED_SINK_LAYOUTS = {
    **SINK_LAYOUTS,
    "transcript_qc": schemas_mod.TRANSCRIPT_QC,
    "turn_stats": schemas_mod.TURN_STATS,
    "violations": schemas_mod.VIOLATIONS,
    "disfluencies": schemas_mod.DISFLUENCIES,
    "pending_flags": schemas_mod.PENDING_FLAGS,
}


def test_outputs_write_declared_layouts(
    spark, ungated_sinks, gated_sinks, synth_dir, cfg
):
    """Every batch output and every sink of the ungated and the gated query
    is written in its schemas.py layout: the same column names, in the same
    order, with the same data types."""

    def layout(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    batch = run_batch_from_dir(spark, synth_dir, cfg)
    want = {
        f"batch.{name}": layout(schema)
        for name, schema in [
            ("accepted", schemas_mod.ACCEPTED),
            ("rejected", schemas_mod.REJECTED),
            ("issues", schemas_mod.ISSUES),
            ("turn_stats", schemas_mod.TURN_STATS),
            ("audio_qc", schemas_mod.AUDIO_QC),
            ("transcript_qc", schemas_mod.TRANSCRIPT_QC),
            ("disfluencies", schemas_mod.DISFLUENCIES),
        ]
    }
    got = {
        f"batch.{f.name}": layout(getattr(batch, f.name).schema)
        for f in dataclasses.fields(batch)
    }
    for tier, sinks, layouts in [
        ("ungated", ungated_sinks, SINK_LAYOUTS),
        ("gated", gated_sinks, GATED_SINK_LAYOUTS),
    ]:
        want |= {f"{tier}.{n}": layout(s) for n, s in layouts.items()}
        got |= {f"{tier}.{n}": layout(s.read(spark).schema) for n, s in sinks.items()}
    bad = {k: got.get(k) for k in want.keys() | got.keys() if got.get(k) != want.get(k)}
    assert not bad, bad


def test_each_sink_batch_is_one_file(ungated_sinks, gated_sinks):
    """Every committed micro-batch of every sink of the ungated and the
    gated query is one parquet file: each write is sized from the batch's
    own row count (``job.ROWS_PER_FILE``), not written one file per state
    or shuffle partition."""
    import glob
    import json

    counts = {}
    for tier, sinks in [("ungated", ungated_sinks), ("gated", gated_sinks)]:
        for name, sink in sinks.items():
            for m in sorted(os.listdir(sink.manifest_dir)):
                with open(os.path.join(sink.manifest_dir, m)) as f:
                    path = json.load(f)["path"]
                counts[f"{tier}.{name}.{m}"] = len(glob.glob(f"{path}/*.parquet"))
    assert counts and all(n == 1 for n in counts.values()), counts


def test_local_checkpoints_use_filesystem_manager(spark):
    """A checkpoint on the local filesystem (a bare path or a ``file:``
    URI) is written through Spark's FileSystem-based checkpoint manager;
    any other root keeps Spark's default (the key unset). Setting the conf
    runs no Spark job."""
    from daily_journal_dataflow_qc_spark.streaming import job

    key = job.CHECKPOINT_MANAGER_KEY
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup()
    for root, want in [
        ("/data/out/_checkpoint_qc", job.LOCAL_CHECKPOINT_MANAGER),
        ("hdfs://namenode:8020/out/_checkpoint_qc", None),
        ("file:///data/out/_checkpoint_qc", job.LOCAL_CHECKPOINT_MANAGER),
        ("s3a://bucket/out/_checkpoint_qc", None),
    ]:
        job._apply_stream_conf(spark, root)
        assert spark.conf.get(key, None) == want, root
    assert spark.sparkContext.statusTracker().getJobIdsForGroup() == jobs


def test_stop_mid_batch_is_clean(spark, stream_input, synth_dir, cfg, tmp_path, monkeypatch):
    """``q.stop()`` in the middle of a gated batch stops the query cleanly:
    the batch runs off the interrupted stream thread, so it finishes and
    commits every sink, the query ends with no exception, and the JVM
    prints no ``StackOverflowError`` (which Spark's interrupt check hits on
    the Py4J traceback of a batch interrupted on the stream thread). The
    uncaught-error print of the stream thread goes to the JVM's
    ``System.err``, which this test points at a file: pytest's fd capture
    does not reach the JVM child's stderr."""
    import threading

    from daily_journal_dataflow_qc_spark.streaming.sink import IdempotentBatchSink

    entered: list[int] = []
    in_batch = threading.Event()
    write = IdempotentBatchSink.write

    def slow(self, df, batch_id):
        if os.path.basename(self.dir) == "transcript_qc" and not entered:
            entered.append(batch_id)
            in_batch.set()
            time.sleep(2)  # the stop arrives while the batch is in flight
        write(self, df, batch_id)

    monkeypatch.setattr(IdempotentBatchSink, "write", slow)
    jvm = spark.sparkContext._jvm
    err_path = str(tmp_path / "jvm_stderr.txt")
    stderr = jvm.java.lang.System.err
    jvm.java.lang.System.setErr(
        jvm.java.io.PrintStream(jvm.java.io.FileOutputStream(err_path), True)
    )
    try:
        q, sinks = start_session_qc_query(
            spark, f"{stream_input}/transcripts", str(tmp_path / "out"),
            spark.read.parquet(f"{synth_dir}/conv_meta.parquet"), cfg,
            max_files_per_trigger=1, tool_calls_dir=f"{stream_input}/tool_calls",
            trigger_seconds=0.5,
        )
        assert in_batch.wait(300), "no gated batch reached its transcript sinks"
        q.stop()
        q.awaitTermination(120)
    finally:
        jvm.java.lang.System.err.close()
        jvm.java.lang.System.setErr(stderr)
    assert q.exception() is None
    with open(err_path) as f:
        err = f.read()
    assert "StackOverflowError" not in err, err[:2000]
    (bid,) = entered
    assert all(s.committed(bid) for s in sinks.values()), {
        n: s.committed(bid) for n, s in sinks.items()
    }


def test_session_agg_state_carries_no_turn_payload(spark, stream_input, cfg):
    """Structural guard for the bounded-state north star, read off the
    analyzed plan's one Aggregate: its state holds the diary identity
    aggregates and one collection, the set of the session's integer turn
    indices (the in-state turn dedup). No text and no other per-turn
    column reaches it; ``n_turns`` is the set's size, taken after it."""
    from daily_journal_dataflow_qc_spark import schemas
    from daily_journal_dataflow_qc_spark.streaming.job import session_qc_aggregate

    turns = spark.readStream.schema(schemas.TRANSCRIPTS).parquet(
        f"{stream_input}/transcripts"
    )
    agg = session_qc_aggregate(turns, cfg)
    assert agg.columns == [
        "conv_id", "session_window", "session_start", "session_end",
        "n_turns", "has_tool_tag",
    ], agg.columns
    assert agg.schema["n_turns"].dataType.simpleString() == "bigint"

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node):
        yield node
        for c in seq(node.children()):
            yield from walk(c)

    def attrs(node):
        return [
            (x.name(), x.dataType().simpleString())
            for x in walk(node)
            if x.nodeName() == "AttributeReference"
        ]

    plan = agg._jdf.queryExecution().analyzed()
    (aggregate,) = [n for n in walk(plan) if n.nodeName() == "Aggregate"]
    funcs = sorted(
        (e.aggregateFunction().prettyName(),
         e.aggregateFunction().dataType().simpleString(),
         attrs(e.aggregateFunction()))
        for ne in seq(aggregate.aggregateExpressions())
        for e in walk(ne)
        if e.nodeName() == "AggregateExpression"
    )
    assert funcs == [
        ("collect_set", "array<int>", [("turn_idx", "int")]),
        ("max", "boolean", [("tool", "string")]),
        ("max", "timestamp", [("ts", "timestamp")]),
        ("min", "timestamp", [("ts", "timestamp")]),
    ], funcs
    grouping = [a for g in seq(aggregate.groupingExpressions()) for a in attrs(g)]
    assert [n for n, _ in grouping] == ["conv_id", "session_window"], grouping
    fed = {x.name() for x in seq(aggregate.child().output())}
    assert fed == {"conv_id", "session_window", "turn_idx", "ts", "tool"}, fed


def test_turn_stats_rebuild_watermark_exact_and_replay_converges(
    spark, synth_dir, cfg, tmp_path
):
    """Arrival-time-exact late handling (round-3's documented divergence,
    investigated and closed):

    1. LIVE run with staged admission: a sub-watermark row admitted in the
       SAME batch as its session's eviction MERGES into the session
       (measured Spark semantics — sessions accept late rows while their
       state lives). The diary counts it, and the foreachBatch turn-stats
       rebuild — scoped to admitted files in the eviction batch — includes
       it identically: per-diary turn_stats row counts equal the n_turns
       the session state counted (audio_qc sink) for EVERY diary that
       reached the transcript side.
    2. REPLAY from a fresh checkpoint (the reference's cron re-run,
       mindlamp_accounting.py:154-158): everything admits in one batch, no
       watermark exists, and the result equals the batch engine EXACTLY.

    The post-eviction drop side is covered by
    test_post_eviction_late_row_dropped_consistently.
    """
    import time as _time

    from daily_journal_dataflow_qc_spark.pipeline import run_batch

    root = str(tmp_path / "input")
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
    out_live = str(tmp_path / "out_live")
    q, sinks = start_session_qc_query(
        spark, f"{root}/transcripts", out_live, conv_meta, cfg,
        max_files_per_trigger=6, tool_calls_dir=f"{root}/tool_calls",
    )
    q.awaitTermination(600)
    ts_live = sinks["turn_stats"].read(spark).toPandas()
    tqc_live = sinks["transcript_qc"].read(spark).toPandas()
    aqc_live = sinks["audio_qc"].read(spark).toPandas()
    # the sub-watermark row MERGED: counted by the diary AND rebuilt
    assert ((ts_live.conv_id == target_conv) & (ts_live.turn_idx == late_idx)).any()
    # every transcript-side diary's turn_stats row count equals the turn
    # count of the session state — independent of the re-read that builds
    # both turn_stats and transcript_qc (timeofday tells apart diaries that
    # share a per-batch submission number)
    diary = ["conv_id", "day", "daily_submission_number"]
    got_counts = ts_live.groupby(diary).size().rename("n").reset_index()
    want_counts = (
        aqc_live.merge(tqc_live[diary + ["timeofday"]], on=diary + ["timeofday"])
        .groupby(diary)["n_turns"]
        .sum()
        .reset_index()
    )
    m = got_counts.merge(want_counts, on=diary, how="outer")
    assert not m.n.isna().any() and not m.n_turns.isna().any()
    assert (m.n == m.n_turns).all(), m[m.n != m.n_turns]

    # ---- replay run (fresh checkpoint, single admission batch)
    out_replay = str(tmp_path / "out_replay")
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
def test_post_eviction_late_row_dropped_consistently(spark, cfg, backend, tmp_path):
    """A sub-watermark row arriving AFTER its session's state was evicted
    is silently dropped by the declarative session aggregate — and the
    turn-stats rebuild never resurrects it: the live tier stays internally
    exact (turn counts == diary counts), the batch tier counts the row,
    and a fresh REPLAY converges to the batch tier (the reference's cron
    re-run model). A verbatim re-delivery of a counted turn arriving after
    the eviction is dropped the same way: ``n_turns`` stays put, and the
    batch tier and the replay count that turn once."""
    import time as _time

    from daily_journal_dataflow_qc_spark import schemas
    from daily_journal_dataflow_qc_spark.pipeline import run_batch

    root = str(tmp_path / "input")
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
    # b2: the POST-EVICTION late row inside convZ's already-emitted session,
    # and a verbatim re-delivery of its turn 1
    write_rows(
        [("convZ", 99, "S1", "late arrival", None,
          (T + pd.Timedelta(seconds=30)).to_pydatetime()),
         ("convZ", 1, "S1", "hello there world", None, T.to_pydatetime())]
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

    out_live = str(tmp_path / "out_live")
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
    def n_turns(sinks_):
        z_qc = sinks_["audio_qc"].read(spark).filter(F.col("conv_id") == "convZ")
        return [r["n_turns"] for r in z_qc.collect()]

    assert n_turns(sinks) == [2]  # the re-delivered turn 1 not counted again
    # batch tier counts the late row — the divergence is exactly that row
    batch = run_batch(
        spark.read.parquet(f"{root}/transcripts"),
        spark.read.parquet(f"{root}/tool_calls"),
        conv_meta,
        cfg,
    )
    bt = batch.transcript_qc.toPandas()
    assert int(bt[bt.conv_id == "convZ"].total_sentence_count.iloc[0]) == 3
    assert batch.audio_qc.filter(F.col("conv_id") == "convZ").head()["n_turns"] == 3
    # replay (fresh checkpoint, one admission batch) converges to batch
    out_replay = str(tmp_path / "out_replay")
    q2, sinks2 = start_session_qc_query(
        spark, f"{root}/transcripts", out_replay, conv_meta, cfg,
        tool_calls_dir=f"{root}/tool_calls",
    )
    q2.awaitTermination(600)
    ts_replay = sinks2["turn_stats"].read(spark).toPandas()
    assert sorted(ts_replay[ts_replay.conv_id == "convZ"].turn_idx) == [1, 2, 99]
    assert n_turns(sinks2) == [3]
    compare_frames(
        ts_replay, batch.turn_stats.toPandas(), ["conv_id", "turn_idx"]
    )


T0 = pd.Timestamp("2023-01-01 10:00:00")
SENTINEL = ("__sentinel__", 1, "S1", "end", None, pd.Timestamp("2090-01-01"))


def _turn(conv, idx, second):
    """A transcript row ``second`` seconds after T0, its text fixed by idx."""
    return (conv, idx, "S1", f"turn {idx}", None, T0 + pd.Timedelta(seconds=second))


def _redelivery_run(spark, cfg, tmp_path, batches):
    """Run the ungated query over ``batches`` (one parquet file, so one
    micro-batch, each; a far-future sentinel closes every session), the
    batch tier and the pandas oracle over the same rows. Returns the
    audio_qc sink, the batch audio_qc and the oracle's, as pandas."""
    from daily_journal_dataflow_qc_spark import schemas
    from daily_journal_dataflow_qc_spark.oracle import pandas_oracle
    from daily_journal_dataflow_qc_spark.pipeline import run_batch

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    root = str(tmp_path / "transcripts")
    for rows in [*batches, [SENTINEL]]:
        spark.createDataFrame(
            pd.DataFrame(rows, columns=cols), schema=schemas.TRANSCRIPTS
        ).coalesce(1).write.mode("append").parquet(root)
        time.sleep(1.2)
    turns = pd.DataFrame([r for rows in batches for r in rows], columns=cols)
    convs = sorted(turns.conv_id.unique())
    meta = pd.DataFrame(
        {
            "conv_id": convs,
            "consent_date": [T0.date()] * len(convs),
            "timezone": ["UTC"] * len(convs),
            "language": ["ENGLISH"] * len(convs),
            "db_level": [60.0] * len(convs),
            "duration_sec": [120.0] * len(convs),
            "flatness": [0.1] * len(convs),
        }
    )
    conv_meta = spark.createDataFrame(meta)
    q, sinks = start_session_qc_query(
        spark, root, str(tmp_path / "out"), conv_meta, cfg, max_files_per_trigger=1
    )
    q.awaitTermination(600)
    # each conv's first diary makes its round trip (the oracle's transcript
    # side needs one)
    tc = pd.DataFrame(
        [
            (c, f"{c}_audioJournal_day0001_ENGLISH_submission1.wav", kind,
             "transcribeme", T0 + pd.Timedelta(hours=h), None)
            for c in convs
            for kind, h in (("request", 1), ("return", 2))
        ],
        columns=["conv_id", "request_key", "kind", "tool", "ts", "payload"],
    )
    tool_calls = spark.createDataFrame(tc, schema=schemas.TOOL_CALLS)
    batch = run_batch(spark.read.parquet(root), tool_calls, conv_meta, cfg)
    oracle = pandas_oracle.compute(turns, tc, meta, cfg)
    return (
        sinks["audio_qc"].read(spark).toPandas(),
        batch.audio_qc.toPandas(),
        oracle["audio_qc"],
    )


def _compare_diaries(got, batch_qc, oracle_qc):
    keys = ["conv_id", "day", "daily_submission_number"]
    cols = [*QC_COMPARE_COLS, "session_start"]
    compare_frames(got, batch_qc[[*cols, "n_turns"]], keys)
    compare_frames(got, oracle_qc[cols], keys)


def test_live_redelivery_counts_once(spark, cfg, tmp_path):
    """A verbatim re-delivery admitted in a later micro-batch, while its
    session's state is live, merges into that session and counts once:
    the diary and its ``n_turns`` equal the batch tier's and the
    oracle's, whose dedup keeps one copy."""
    got, batch_qc, oracle_qc = _redelivery_run(
        spark, cfg, tmp_path,
        [
            [_turn("convA", 1, 0), _turn("convA", 2, 60), _turn("convB", 1, 0)],
            [_turn("convA", 2, 60), _turn("convA", 3, 120)],
            [_turn("convA", 1, 0), _turn("convB", 1, 0)],
        ],
    )
    _compare_diaries(got, batch_qc, oracle_qc)
    assert dict(zip(got.conv_id, got.n_turns)) == {"convA": 3, "convB": 1}


def test_non_verbatim_duplicate_rule(spark, cfg, tmp_path):
    """The stream's rule for a duplicate key with another ``ts`` (not a
    verbatim re-delivery; datagen never makes one): every copy's ``ts``
    bounds its session and the turn counts once per session. The batch
    tier and the oracle keep the min-``ts`` copy only. A copy within the
    session gap of its session (convN) changes no diary; a copy past the
    gap (convF) opens a second, one-turn diary on the stream alone."""
    late = 5 * 3600
    got, batch_qc, oracle_qc = _redelivery_run(
        spark, cfg, tmp_path,
        [
            [_turn("convN", 1, 0), _turn("convN", 2, 60),
             _turn("convF", 1, 0), _turn("convF", 2, 60)],
            [_turn("convN", 2, 600), _turn("convF", 1, late)],
        ],
    )
    first = got[(got.conv_id != "convF") | (got.daily_submission_number == 1)]
    _compare_diaries(first, batch_qc, oracle_qc)
    assert len(batch_qc) == len(oracle_qc) == 2
    f = got[got.conv_id == "convF"].sort_values("session_start")
    assert f.n_turns.tolist() == [2, 1]
    assert f.session_start.tolist() == [T0, T0 + pd.Timedelta(seconds=late)]
    assert got[got.conv_id == "convN"].n_turns.tolist() == [2]


def test_streaming_metrics_listener(spark, stream_input, cfg, tmp_path):
    """§2.10 per-batch lineage/metrics: every micro-batch of a streaming
    query lands a metrics row (rows in, latency, state size) in the log."""
    from daily_journal_dataflow_qc_spark.streaming.job import start_validator_query
    from daily_journal_dataflow_qc_spark.streaming.metrics import (
        attach_metrics,
        detach_metrics,
        read_metrics,
    )

    log = str(tmp_path / "metrics" / "metrics.jsonl")
    out_root = str(tmp_path / "out")
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


def _batch_pending_keys(spark, synth_dir, cfg, tool_calls):
    """The batch tier's pending family (``issues_set``) at the stream's
    clock: compute_date = to_date(max tool-call ts - cfg.watermark_delay)."""
    clock = tool_calls.agg(
        F.to_date(F.max("ts") - F.expr(f"INTERVAL {cfg.watermark_delay}"))
    ).head()[0]
    issues = run_batch_from_dir(
        spark, synth_dir, dataclasses.replace(cfg, compute_date=clock)
    ).issues
    pend = issues.filter(F.col("error_message") == MSG_PENDING).toPandas()
    return set(zip(pend.conv_id, pend.filename))


def test_streaming_pending_flags_match_batch(spark, gated_sinks, stream_input, synth_dir, cfg):
    """The gated query's pending_flags sink == EXACTLY the batch engine's
    pending family at the stream's clock, one row per key, aged from the
    first arrival (exhausted-retry keys are upload-failed, not pending)."""
    got = gated_sinks["pending_flags"].read(spark).toPandas()
    expect = _batch_pending_keys(
        spark, synth_dir, cfg, spark.read.parquet(f"{stream_input}/tool_calls")
    )
    got_keys = set(zip(got.conv_id, got.filename))
    assert expect, "fixture produced no pending candidates"
    assert got_keys == expect, (
        f"pending set mismatch: missing={sorted(expect - got_keys)[:5]} "
        f"extra={sorted(got_keys - expect)[:5]}"
    )
    assert len(got) == len(got_keys), "duplicate pending rows for a key"
    assert list(got.columns) == [
        "conv_id", "filename", "req_ts", "file_stage", "error_message"
    ]
    tc = pd.read_parquet(f"{synth_dir}/tool_calls.parquet")
    first = tc[tc.kind == "request"].groupby(["conv_id", "request_key"]).ts.min()
    for r in got.itertuples():
        assert pd.Timestamp(r.req_ts, tz="UTC") == first[(r.conv_id, r.filename)]


def test_submit_entrypoint_local(spark, stream_input, synth_dir, tmp_path):
    """The spark-submit entrypoint (scripts/submit_streaming_job.py) drives
    the full job in --local mode: zip builds, sinks + checkpoint + metrics
    land under the output root, and a second invocation resumes from the
    checkpoint as a no-op (exactly-once)."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(repo, "scripts", "submit_streaming_job.py")

    zip_path = str(tmp_path / "pkg.zip")
    out_root = str(tmp_path / "out")
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
    # the child's driver heap is fixed and small (its heap after a
    # collection peaked at 0.22 GB); the suite's session JVM runs beside it
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    subprocess.run(cmd, capture_output=True, text=True, check=True, timeout=420, env=env)
    assert os.path.isdir(f"{out_root}/_checkpoint_qc")
    n1 = len(os.listdir(f"{out_root}/audio_qc"))
    assert n1 > 0
    assert os.path.isfile(f"{out_root}/metrics.jsonl")
    # resume: availableNow over an unchanged input is an exactly-once no-op
    subprocess.run(cmd, capture_output=True, text=True, check=True, timeout=420, env=env)
    assert len(os.listdir(f"{out_root}/audio_qc")) == n1


def test_catalog_table_streaming_e2e(spark, stream_input, synth_dir, cfg, tmp_path):
    """North-star addressing end-to-end: BOTH streaming sources given as
    catalog tables (the Iceberg path — readStream.table admission of both,
    batch re-reads dispatched through read_table). Guards
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

    out_root = str(tmp_path)
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

    # the gated query's pending flags from the catalog table == batch tier
    pend = sinks["pending_flags"].read(spark).toPandas()
    got_pending = set(zip(pend.conv_id, pend.filename))
    assert got_pending, "fixture produced no pending keys"
    assert got_pending == _batch_pending_keys(
        spark, synth_dir, cfg, spark.table("cat_e2e.tool_calls")
    )
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


def test_pending_flags_emit_once_lockstep(spark, synth_dir, cfg, tmp_path):
    """Tool calls and transcripts land in event-time lockstep, one
    availableNow drain per 7-day slice on one checkpoint; the last drain
    lands tool calls only. Each pending key is emitted exactly once, in the
    drain whose tool calls move the clock (max tool-call ts - watermark
    delay) past its deadline: a retry or a return that lands after the flag
    neither re-emits nor retracts it, the row keeps the first-arrival
    request ts, and a replayed batch recomputes the same rows from exactly
    the tool-call rows its offset log admitted."""
    import json

    from daily_journal_dataflow_qc_spark import schemas
    from daily_journal_dataflow_qc_spark.streaming.keystore import (
        IncrementalKeyStore,
    )

    root = str(tmp_path)
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    conv = conv_meta.select("conv_id").orderBy("conv_id").head()[0]
    t0 = pd.Timestamp("2023-03-01 10:00:00", tz="UTC")
    D, S = pd.Timedelta(days=1), pd.Timedelta(seconds=1)

    def req(key, t, kind="request"):
        return ("c_" + key, f"{key}.wav", kind, t)

    # clock after drain i = t0 + (7i + 6)d - 2d: every drain carries a
    # round-tripped filler key at the end of its slice
    tool_calls = [req(f"wm{i}", t0 + (7 * i + 6) * D) for i in range(5)]
    tool_calls += [req(f"wm{i}", t0 + (7 * i + 6) * D, "return") for i in range(5)]
    tool_calls += [
        req("a", t0), req("a", t0 + 8 * D),          # retry before the flag
        req("b", t0), req("b", t0 + 22 * D),         # retry after the flag
        req("late", t0), req("late", t0 + 23 * D, "return"),  # late return
        req("ok", t0 + D), req("ok", t0 + 8 * D, "return"),   # in time
        req("later", t0 + 5 * D),                    # flagged in drain 3
        req("tonly", t0 + 17 * D),                   # flagged in drain 4
        *[req("exh", t0 + 5 * j * S) for j in range(cfg.max_push_attempts)],
    ]
    tc = pd.DataFrame(tool_calls, columns=["conv_id", "request_key", "kind", "ts"])
    tc["tool"], tc["payload"] = "transcribeme", None
    os.makedirs(f"{root}/tool_calls")
    os.makedirs(f"{root}/transcripts")

    def drain():
        q, sinks = start_session_qc_query(
            spark, f"{root}/transcripts", f"{root}/out", conv_meta, cfg,
            tool_calls_dir=f"{root}/tool_calls",
        )
        q.awaitTermination(300)
        return sinks

    def land_tool_calls(part):
        spark.createDataFrame(
            part[list(schemas.TOOL_CALLS.names)], schemas.TOOL_CALLS
        ).coalesce(1).write.mode("append").parquet(f"{root}/tool_calls")

    flagged_at = {}
    for i in range(5):
        lo, hi = t0 + 7 * i * D, t0 + 7 * (i + 1) * D
        land_tool_calls(tc[(tc.ts >= lo) & (tc.ts < hi)])
        if i < 4:  # the last drain lands tool calls only
            turns = pd.DataFrame({
                "conv_id": conv, "turn_idx": [3 * i + j for j in range(1, 4)],
                "role": "S1", "text": "a turn", "tool": None,
                "ts": [lo + 4 * D + j * 10 * S for j in range(3)],
            })
            spark.createDataFrame(turns, schemas.TRANSCRIPTS).coalesce(
                1
            ).write.mode("append").parquet(f"{root}/transcripts")
        time.sleep(1.2)
        sinks = drain()
        for k in sinks["pending_flags"].read(spark).toPandas().filename:
            flagged_at.setdefault(k, i)

    got = sinks["pending_flags"].read(spark).toPandas()
    assert got.groupby(["conv_id", "filename"]).size().eq(1).all(), got.to_string()
    assert flagged_at == {
        "a.wav": 2, "b.wav": 2, "late.wav": 2, "later.wav": 3, "tonly.wav": 4
    }
    req_ts = {r.filename: pd.Timestamp(r.req_ts, tz="UTC") for r in got.itertuples()}
    assert req_ts == {
        "a.wav": t0, "b.wav": t0, "late.wav": t0, "later.wav": t0 + 5 * D,
        "tonly.wav": t0 + 17 * D,
    }

    # source order: the transcripts are sources/0 (the log _streamed_files
    # reads), the tool calls sources/1
    cp = f"{root}/out/_checkpoint_qc"

    def logged_dirs(n):
        src = f"{cp}/sources/{n}"
        return {
            os.path.basename(os.path.dirname(json.loads(line)["path"]))
            for name in os.listdir(src) if name[0].isdigit()
            for line in open(f"{src}/{name}") if line.startswith("{")
        }

    assert logged_dirs(0) == {"transcripts"}
    assert logged_dirs(1) == {"tool_calls"}

    # replay: drop the pending sink's and the key store's manifests of the
    # last batch that emitted rows, and the checkpoint's record of that
    # batch and of any no-data batch after it, so Spark re-runs them on the
    # next drain; a tool-call file landing before that drain must go to a
    # later batch, not into the replayed one
    pending = sinks["pending_flags"]
    store = IncrementalKeyStore(f"{root}/out", "_tool_call_keys")
    last = max(
        int(r[0].rsplit("batch_id=", 1)[1].split("/", 1)[0])
        for r in pending.read(spark).select(F.input_file_name()).collect()
    )
    key = ["conv_id", "request_key", "kind", "ts"]
    stored_last = (
        store.read(spark).filter(F.col("_batch") == last).toPandas()
        .sort_values(key, ignore_index=True)
    )
    assert len(stored_last)
    for b in range(last, last + 2):
        stale = [
            f"{pending.manifest_dir}/batch-{b}.json",
            f"{store.sink.manifest_dir}/batch-{b}.json",
        ]
        stale += [f"{cp}/commits/{b}", f"{cp}/commits/.{b}.crc"]
        if b > last:
            stale += [f"{cp}/offsets/{b}", f"{cp}/offsets/.{b}.crc"]
        for f in stale:
            if os.path.exists(f):
                os.remove(f)
    assert not pending.committed(last)
    new = pd.DataFrame(
        [req("new", t0 + 20 * D), req("new", t0 + 20 * D + S, "return")],
        columns=["conv_id", "request_key", "kind", "ts"],
    )
    new["tool"], new["payload"] = "transcribeme", None
    land_tool_calls(new)
    replayed = drain()["pending_flags"].read(spark).toPandas()
    assert pending.committed(last)
    pd.testing.assert_frame_equal(
        replayed.sort_values(["conv_id", "filename"], ignore_index=True),
        got.sort_values(["conv_id", "filename"], ignore_index=True),
    )
    rows = store.read(spark).toPandas()
    pd.testing.assert_frame_equal(
        rows[rows._batch == last].sort_values(key, ignore_index=True), stored_last
    )
    assert (rows[rows.request_key == "new.wav"]._batch > last).all()
    assert len(rows[rows.request_key == "new.wav"]) == 2
