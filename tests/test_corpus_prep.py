"""End-to-end corpus preparation (operators/corpus.py) on a fixture with
one planted defect per stage, plus the weighted mixture sampler."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from daily_journal_dataflow_qc_spark.operators.corpus import prepare_corpus
from daily_journal_dataflow_qc_spark.operators.sampling import mixture_sample

GOOD = (
    "the quick brown fox jumps over the lazy dog while the sun sets "
    "slowly behind the old wooden bridge near the quiet river bank"
)
NEAR = GOOD.replace("lazy dog", "sleepy dog")
LEAKED = "completely different content about spark shuffles and partition pruning"


def test_prepare_corpus_each_stage_fires(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4, 5],
                "text": [
                    GOOD,            # survives everything
                    GOOD,            # exact dup of 0 -> dropped at stage 2
                    NEAR,            # near-dup of 0 -> dropped at stage 3
                    LEAKED,          # shares shingles with test -> stage 4
                    "spam " * 40,    # top_2gram_frac ~1 -> stage-1 repetition gate
                    "ok",            # < 2 words: whole-text gram fallback makes
                                     # top_2gram_frac = 1.0 -> same gate
                                     # (quality_score alone is 0.6667, above 0.66)
                ],
            }
        )
    )
    test_corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": [LEAKED]})
    )
    out = prepare_corpus(docs, test_corpus, near_dup_threshold=0.5).toPandas()
    assert sorted(out.doc_id) == [0]
    row = out.iloc[0]
    assert row.split in ("train", "val", "test")
    assert row.pack_bin == 0 and row.pack_pos == 1
    assert row.n_tokens == len(GOOD.split(" "))
    # without a test corpus the decontamination stage is skipped
    out2 = prepare_corpus(docs, None, near_dup_threshold=0.5).toPandas()
    assert sorted(out2.doc_id) == [0, 3]


def test_prepare_corpus_bins_never_mix_splits(spark):
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("document number "),
            F.col("id").cast("string"),
            F.lit(" holds words the filter keeps easily today"),
        ).alias("text"),
    )
    out = prepare_corpus(docs, max_tokens=64, n_shards=4).toPandas()
    assert len(out) == 400, "unique quality docs must all survive"
    per_bin = out.groupby(["split", "pack_shard", "pack_bin"])
    # bin ids are unique per (split, shard): the same (shard, bin) pair may
    # appear under different splits but rows inside one group share a split
    assert (per_bin["split"].nunique() == 1).all()
    # budget semantics hold inside every group
    for _, g in per_bin:
        assert g.n_tokens.iloc[:-1].sum() < 64 or len(g) == 1


def test_mixture_sample_rates_and_determinism(spark):
    n = 6000
    d = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3)).alias("source"),
    )
    rates = {"s0": 0.8, "s1": 0.2}  # s2 -> default 0 (dropped)
    got = mixture_sample(d.repartition(7), rates).toPandas()
    again = mixture_sample(d.repartition(31), rates).toPandas()
    assert set(got.doc_id) == set(again.doc_id), "partition-independent"
    frac = got.groupby("source").size() / (n / 3)
    assert abs(frac["s0"] - 0.8) < 0.05
    assert abs(frac["s1"] - 0.2) < 0.05
    assert "s2" not in frac.index
    with pytest.raises(ValueError, match="rates"):
        mixture_sample(d, {"s0": 1.5})
    # NULL source rows take default_rate, never a silent drop
    dn = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "source": [None] * 20})
    )
    assert mixture_sample(dn, {"s0": 0.5}, default_rate=1.0).count() == 20
    assert mixture_sample(dn, {"s0": 0.5}, default_rate=0.0).count() == 0
    # NULL key at rate 1.0 must also never silently drop
    dk = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": pd.array([None] * 5, dtype="Int64"), "source": ["s0"] * 5}
        )
    )
    assert mixture_sample(dk, {"s0": 1.0}).count() == 5


def test_mixture_sample_matches_duckdb_arithmetic(spark):
    d = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 2)).alias("source"),
    )
    got = mixture_sample(d, {"s0": 0.5, "s1": 0.1}).orderBy("doc_id").toPandas()
    con = duckdb.connect()
    want = con.execute(
        """
        WITH d AS (
            SELECT range AS doc_id, 's' || CAST(range % 2 AS VARCHAR) AS source
            FROM range(2000)
        )
        SELECT doc_id, source FROM d
        WHERE CAST(('0x' || substring(md5('mix:' || source || ':' ||
                  CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
              < CASE source WHEN 's0' THEN 500000 ELSE 100000 END
        ORDER BY doc_id
        """
    ).df()
    assert got.doc_id.tolist() == want.doc_id.tolist()


def test_streaming_corpus_ingest(spark, tmp_path):
    """Streaming front door: quality/repetition gate + first-arrival content
    dedup, exactly-once across re-runs, and batch-tier agreement (dup rows
    are verbatim re-deliveries, so first-arrival == min-id)."""
    import time

    from daily_journal_dataflow_qc_spark.operators.dedup import exact_dedup
    from daily_journal_dataflow_qc_spark.operators.textanalysis import (
        with_text_analysis,
    )
    from daily_journal_dataflow_qc_spark.streaming.corpus_ingest import (
        start_corpus_ingest_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ts0 = pd.Timestamp("2025-06-01 12:00:00", tz="UTC")

    def mk(rows, name):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us, UTC]")
        pdf.to_parquet(in_dir / name)

    mk(
        {
            "doc_id": [0, 1, 4],
            "text": [GOOD, LEAKED, "spam " * 40],
            "source": ["s0"] * 3,
            "ts": [ts0] * 3,
        },
        "b0.parquet",
    )
    time.sleep(1.1)  # mtime order = arrival order
    mk(
        {
            "doc_id": [0, 2],  # 0 = verbatim re-delivery (same id/text/ts)
            "text": [GOOD, NEAR],
            "source": ["s0", "s1"],
            "ts": [ts0, ts0 + pd.Timedelta(minutes=5)],
        },
        "b1.parquet",
    )

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_corpus_ingest_stream(spark, str(in_dir), out_dir, ck)
    q.awaitTermination(180)
    got = spark.read.parquet(out_dir).toPandas()
    assert sorted(got.doc_id) == [0, 1, 2], got
    assert (got.n_tokens > 0).all() and got.quality_score.min() >= 0.66

    # exactly-once: a restart with no new input appends nothing
    q2 = start_corpus_ingest_stream(spark, str(in_dir), out_dir, ck)
    q2.awaitTermination(180)
    again = spark.read.parquet(out_dir).toPandas()
    assert sorted(again.doc_id) == [0, 1, 2]

    # batch-tier agreement on the same input
    batch = spark.read.parquet(str(in_dir))
    gated = with_text_analysis(batch).filter(
        (F.col("quality_score") >= 0.66) & (F.col("top_2gram_frac") <= 0.5)
    )
    want = sorted(exact_dedup(gated).toPandas().doc_id)
    assert sorted(got.doc_id) == want


def test_streaming_corpus_ingest_kill_resume(spark, tmp_path):
    """Exactly-once across a mid-stream kill: stop the ingest query after
    its first committed micro-batch, restart from the same checkpoint to
    completion, and require the admitted store to EQUAL an uninterrupted
    run's — no doc lost, none duplicated, dedup state (first-arrival hashes)
    restored across the restart. The QC tier pins this with a custom-sink
    test (test_streaming_exactly_once_kill_resume); the ingest tier relies
    on the plain FileStreamSink commit log, which this exercises directly."""
    import os
    import shutil
    import time

    from daily_journal_dataflow_qc_spark.streaming.corpus_ingest import (
        start_corpus_ingest_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ts0 = pd.Timestamp("2025-06-01 12:00:00", tz="UTC")

    def doc(i):  # distinct gate-passing text per id
        return f"document number {i} holds words the filter keeps easily today"

    # 6 mtime-ordered files (one micro-batch each at maxFilesPerTrigger=1):
    # re-deliveries of file-0/file-1 docs land in files 3-5 so at least one
    # duplicate's first arrival is committed BEFORE the kill and its
    # re-delivery arrives AFTER the restart — the state-restore case.
    # (doc_id, text, minutes-offset of ts): re-deliveries are VERBATIM
    # (same id/text/TS as the original batch — the datagen threat model)
    batches = [
        [(0, doc(0), 0), (1, doc(1), 0)],
        [(2, doc(2), 1), (100, "spam " * 40, 1)],  # repetition-gated
        [(3, doc(3), 2), (0, doc(0), 0)],          # verbatim re-delivery of 0
        [(4, doc(4), 3), (1, doc(1), 0)],          # verbatim re-delivery of 1
        [(5, doc(5), 4), (2, doc(2), 1)],          # verbatim re-delivery of 2
        [(6, doc(6), 5)],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "source": ["s0"] * len(rows),
                "ts": [ts0 + pd.Timedelta(minutes=r[2]) for r in rows],
            }
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        pdf.to_parquet(in_dir / f"b{i}.parquet")
        time.sleep(1.1)  # mtime order = arrival order

    # uninterrupted baseline
    base_out, base_ck = str(tmp_path / "base_out"), str(tmp_path / "base_ck")
    q = start_corpus_ingest_stream(
        spark, str(in_dir), base_out, base_ck,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(300)
    baseline = spark.read.parquet(base_out).toPandas()
    assert sorted(baseline.doc_id) == [0, 1, 2, 3, 4, 5, 6]

    # kill run: stop as soon as the sink commit log shows batch 0
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q2 = start_corpus_ingest_stream(
        spark, str(in_dir), out2, ck2,
        max_files_per_trigger=1,
    )
    deadline = time.time() + 300
    while time.time() < deadline:
        if os.path.exists(os.path.join(ck2, "commits", "0")):
            break
        time.sleep(0.2)
    q2.stop()
    q2.awaitTermination(120)
    n_committed = len(
        [f for f in os.listdir(os.path.join(ck2, "commits")) if f.isdigit()]
    )
    assert n_committed >= 1, "kill landed before any committed batch"

    # resume from the same checkpoint to completion
    q3 = start_corpus_ingest_stream(
        spark, str(in_dir), out2, ck2,
        max_files_per_trigger=1,
    )
    assert q3.awaitTermination(300)
    resumed = spark.read.parquet(out2).toPandas()

    # identical admitted set: no dup (each content admitted once), no loss
    assert sorted(resumed.doc_id) == sorted(baseline.doc_id), (
        f"kill after {n_committed} batches: resumed={sorted(resumed.doc_id)}"
    )
    b = baseline.sort_values("doc_id", ignore_index=True)
    r = resumed.sort_values("doc_id", ignore_index=True)
    pd.testing.assert_frame_equal(
        r[["doc_id", "text", "source", "n_tokens"]],
        b[["doc_id", "text", "source", "n_tokens"]],
    )
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_prepare_corpus_empty_input(spark):
    """Zero-row corpora flow through every stage without a crash."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    empty = spark.createDataFrame(
        [],
        StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        ),
    )
    assert prepare_corpus(empty).count() == 0
    assert prepare_corpus(empty, empty).count() == 0


def test_prepare_corpus_line_and_substring_stages(spark):
    """Opt-in stage 0 (line dedup) and 2b (substring dedup): a boilerplate
    banner line repeated across docs is stripped BEFORE the quality gate
    (the doc survives where it would otherwise fail on repetition), and a
    long span shared by two otherwise-distinct docs is cut with n_tokens
    re-budgeted from the surviving text."""
    banner = "subscribe to our newsletter now"
    body_a = GOOD
    body_b = (
        "a entirely different tale where the mill wheel turns beside the "
        "cold stream and children count stones on the far bank every morning"
    )
    body_c = (
        "meanwhile sailors chart quiet harbors reading tide tables under "
        "paper lanterns while gulls argue about crumbs along the pier"
    )
    body_d = (
        "deep in the archive a librarian files forgotten letters between "
        "atlases and hums an old tune nobody else remembers hearing"
    )
    shared = " ".join(f"boiler{i}" for i in range(12))  # 12-token shared run
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    f"{banner}\n{body_a}",  # banner repeats across 0/1
                    f"{banner}\n{body_b}",
                    f"{body_c} {shared}",  # shared tail repeats across 2/3
                    f"{body_d} {shared}",
                ],
            }
        )
    )
    # near_dup_threshold=1.01 disables the near-dup stage (jaccard <= 1)
    out = prepare_corpus(
        docs,
        None,
        near_dup_threshold=1.01,
        line_dedup=True,
        substring_dedup=True,
        substring_k=10,
    ).toPandas().set_index("doc_id")
    assert sorted(out.index) == [0, 1, 2, 3]
    # the banner line was stripped from 0/1 before the gate; the shared
    # 12-token tail was cut from BOTH 2 and 3 (>=10-token rule), with
    # n_tokens re-budgeted from the surviving text
    assert out.loc[0, "n_tokens"] == len(body_a.split(" "))
    assert out.loc[1, "n_tokens"] == len(body_b.split(" "))
    assert out.loc[2, "n_tokens"] == len(body_c.split(" "))
    assert out.loc[3, "n_tokens"] == len(body_d.split(" "))


def test_prepare_corpus_substring_drops_fully_duplicated_doc(spark):
    """A doc that is nothing but a repeated span loses all its text at
    stage 2b and drops out of the assignments."""
    span = " ".join(f"tok{i}" for i in range(15))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [f"{GOOD} {span}", f"{LEAKED} {span}", span],
            }
        )
    )
    out = prepare_corpus(
        docs, None, near_dup_threshold=1.01,
        substring_dedup=True, substring_k=12,
    ).toPandas()
    assert sorted(out.doc_id) == [0, 1]
    got = out.set_index("doc_id")
    assert got.loc[0, "n_tokens"] == len(GOOD.split(" "))
    assert got.loc[1, "n_tokens"] == len(LEAKED.split(" "))


def test_streaming_budget_admission(spark, tmp_path):
    """Per-source token-budget admission (streaming select_by_token_budget,
    arrival-order prefix rule): admits while the source's cumulative gated
    tokens fit, rejects everything after the overflow (even smaller docs),
    holds unknown sources to default_budget=0, and RESTORES the cumulative
    state across a restart — a post-restart tiny doc must stay rejected
    (a reset state would admit it), and the restart appends nothing."""
    import time

    from daily_journal_dataflow_qc_spark.streaming.corpus_ingest import (
        start_budget_admission_stream,
    )

    in_dir = tmp_path / "admitted"
    in_dir.mkdir()
    ts0 = pd.Timestamp("2025-06-01 12:00:00", tz="UTC")

    def mk(rows, name):
        pdf = pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [f"doc {r[0]} body" for r in rows],
                "source": [r[1] for r in rows],
                "ts": [ts0 + pd.Timedelta(minutes=r[3]) for r in rows],
                "quality_score": 1.0,
                "top_2gram_frac": 0.0,
                "lang_pred": "en",
                "n_tokens": [r[2] for r in rows],
            }
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        pdf.to_parquet(in_dir / name)
        time.sleep(1.1)  # mtime order = arrival order

    # (doc_id, source, n_tokens, minute): s0 budget 25 -> 0,1 fit (cum
    # 10/20); 2 overflows (30); 3 is SMALLER but the prefix rule keeps it
    # out (cum 33); s1 has no budget entry -> default 0 -> closed
    mk([(0, "s0", 10, 0), (1, "s0", 10, 0)], "b0.parquet")
    mk([(2, "s0", 10, 1), (10, "s1", 1, 1)], "b1.parquet")
    mk([(3, "s0", 3, 2)], "b2.parquet")

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_budget_admission_stream(
        spark, str(in_dir), out_dir, ck,
        source_budgets={"s0": 25},
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(300)
    got = spark.read.parquet(out_dir).toPandas().sort_values("doc_id")
    assert list(got.doc_id) == [0, 1]
    assert list(got.cum_source_tokens) == [10, 20]

    # restart with one more tiny s0 doc: restored cum (33) must keep
    # rejecting; a reset state (cum 0) would have admitted it
    mk([(4, "s0", 1, 3)], "b3.parquet")
    q2 = start_budget_admission_stream(
        spark, str(in_dir), out_dir, ck,
        source_budgets={"s0": 25},
        max_files_per_trigger=1,
    )
    assert q2.awaitTermination(300)
    again = spark.read.parquet(out_dir).toPandas()
    assert sorted(again.doc_id) == [0, 1], "state was not restored"


def test_prepare_corpus_line_dedup_keeps_one_copy_of_dup_docs(spark):
    """A doc delivered twice must collapse to ONE survivor under
    line_dedup=True, not erase itself (all its lines occur twice corpus-
    wide): the chain runs exact dedup before the line cut."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [GOOD, GOOD, LEAKED],  # verbatim duplicate pair
            }
        )
    )
    out = prepare_corpus(docs, None, near_dup_threshold=1.01, line_dedup=True).toPandas()
    assert sorted(out.doc_id) == [0, 2]
    assert out.set_index("doc_id").loc[0, "n_tokens"] == len(GOOD.split(" "))
