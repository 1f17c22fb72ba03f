"""Plan-regression guards: pin the physical-plan shape of the flagship
heavy pass so future edits cannot silently reintroduce a shuffle, a
sort-merge join, or a Python pass (ARCHITECTURE.md's "one conv_id
exchange + broadcast joins" claim, measured ~20% of heavy-pass wall when
violated)."""

import re

import pytest

from daily_journal_dataflow_qc_spark.operators import diaries as diary_ops
from daily_journal_dataflow_qc_spark.pipeline import _build, load_inputs


def _staged_heavy_pass(spark, synth_dir, cfg):
    """The wide per-turn frame the flagship builder hands its stage step:
    the heavy pass run_batch_staged writes (and run_batch keeps in memory)."""
    captured = []

    def stage(turn_stats):
        captured.append(turn_stats)
        return turn_stats

    _build(*load_inputs(spark, synth_dir), cfg, stage)
    return captured[0]


def _final_plan_nodes(plan):
    """Every operator of an executed plan, descending through the adaptive
    wrapper and its query stages. InMemoryTableScan is a leaf here: its
    cached plan runs once, however many consumers read it."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _final_plan_nodes(plan.executedPlan())
    if plan.getClass().getSimpleName().endswith("QueryStageExec"):
        return [plan] + _final_plan_nodes(plan.plan())
    children = plan.children()
    return [plan] + [
        n for i in range(children.size()) for n in _final_plan_nodes(children.apply(i))
    ]


def test_staged_heavy_pass_plan_shape(spark, synth_dir, cfg):
    # cached frames left behind by pipeline tests (qc/rollup/flags persist)
    # substitute InMemoryRelations into matching subtrees and change the
    # exchange count — pin the plan with only the builder's own persists
    # (qc, as benched) regardless of test order
    spark.catalog.clearCache()
    plan = _staged_heavy_pass(spark, synth_dir, cfg)._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()  # the builder's persists: keep them out of later plans
    lines = plan.splitlines()

    shuffles = [
        l.strip() for l in lines if "Exchange" in l and "BroadcastExchange" not in l
    ]
    # The pinned shuffle budget of the heavy pass:
    #   1. conv_id        — THE turn-table exchange (dedup + sessionize +
    #                        gap windows + rollups all reuse it)
    #   2. conv_id        — the diary/audio-QC branch re-derives sessionize
    #                        for the broadcast side (tiny: diary-level rows;
    #                        the builder persists qc so this runs once)
    #   3. (conv_id, request_key) — the tool_call_lifecycle rollup over the
    #                        (small) tool_calls table
    # Anything beyond these means a window/join stopped reusing the conv_id
    # partitioning — e.g. a Python UDF placed below a window (EvalPython
    # drops partitioning) or a lost broadcast hint.
    assert len(shuffles) <= 3, "unexpected extra shuffle(s):\n" + "\n".join(shuffles)
    conv_only = [s for s in shuffles if "request_key" not in s]
    assert len(conv_only) <= 2, "turn-table exchanged more than twice:\n" + "\n".join(conv_only)
    assert len(shuffles) - len(conv_only) <= 1, "tool_calls exchanged more than once"

    # all joins in the heavy pass must broadcast (diary side is 10-1000x
    # smaller than the turn stream) — a SortMergeJoin would re-sort the
    # full-width turn rows
    assert "SortMergeJoin" not in plan, "sort-merge join crept into the heavy pass"

    # no Python boundary: redaction and every metric stay in the JVM
    assert "EvalPython" not in plan, plan


def test_session_aggregate_is_partial(spark, synth_dir, cfg):
    """Diary rollups must plan as partial_/merge_ hash aggregates (map-side
    combine), never a bare complete-mode aggregate after a fresh exchange."""
    transcripts, tool_calls, conv_meta = load_inputs(spark, synth_dir)
    turns = diary_ops.dedup_turns(transcripts)
    sessioned = diary_ops.sessionize(turns, cfg)
    diaries = diary_ops.diary_identity(sessioned, conv_meta, cfg)
    plan = diaries._jdf.queryExecution().executedPlan().toString()
    # the identity aggregate reuses the sessionize partitioning: no NEW
    # exchange may sit between the session window and the groupBy
    n_shuffles = sum(
        1 for l in plan.splitlines() if "Exchange" in l and "BroadcastExchange" not in l
    )
    assert n_shuffles <= 1, plan


def test_streaming_topology_plan_shape(spark, stream_input, synth_dir, cfg, tmp_path):
    """Streaming analogue of the heavy-pass guard: the executed plan of a
    data-bearing micro-batch of the session-QC stream must hold no Python
    boundary, no SortMergeJoin anywhere, exactly one stateful operator (the
    session-window aggregate, which also dedups re-delivered turns: no
    separate dedup state store), and a scan that reads no ``text``."""
    import time

    from daily_journal_dataflow_qc_spark.streaming.job import start_session_qc_query

    out_root = str(tmp_path / "out")
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    # one file per trigger widens the data-bearing window to ~7 back-to-back
    # batches so the mid-run plan capture cannot race past them (the
    # trailing watermark-close batch reads no file, so its plan has no scan
    # for this guard to check)
    q, _ = start_session_qc_query(
        spark, f"{stream_input}/transcripts", out_root, conv_meta, cfg,
        trigger_seconds=0.5, max_files_per_trigger=1,
    )
    plan = None
    deadline = time.time() + 300
    try:
        while time.time() < deadline:
            p = q.lastProgress
            if p is not None and p["numInputRows"] > 0:
                candidate = q._jsq.explainInternal(False)
                if "FileScan parquet" in candidate:
                    plan = candidate
                    state_ops = [op["operatorName"] for op in p["stateOperators"]]
                    break
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(120)
    assert plan is not None, "no data-bearing micro-batch plan observed"

    assert "EvalPython" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "StreamingDeduplicate" not in plan, plan
    stateful = re.findall(
        r"\b(\w*StateStoreSave|StreamingDeduplicate\w*|\w*GroupsWithState\w*"
        r"|TransformWithState\w*|StreamingSymmetricHashJoin|StreamingGlobalLimit)\b",
        plan,
    )
    assert stateful == ["SessionWindowStateStoreSave"], (stateful, plan)
    assert len(state_ops) == 1 and "session" in state_ops[0].lower(), state_ops
    # no text enters the session state: the stream scan must not read the
    # text column (redaction runs on the re-read transcript side)
    read_schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    assert read_schemas, plan
    assert not any("text:" in r for r in read_schemas), read_schemas


def test_compile_batch_joins_broadcast(spark, synth_dir, cfg):
    """The foreachBatch compile stage (the shared identity tail + audio QC)
    must broadcast the conv_meta dimension — a SortMergeJoin here would
    re-sort every micro-batch."""
    import pandas as pd

    from daily_journal_dataflow_qc_spark.operators.diaries import (
        audio_qc,
        session_identity,
    )

    diary_rows = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["conv00001"],
                "session_start": [pd.Timestamp("2023-03-01 10:00:00", tz="UTC")],
                "session_end": [pd.Timestamp("2023-03-01 10:05:00", tz="UTC")],
                "n_turns": [3],
            }
        )
    )
    conv_meta = spark.read.parquet(f"{synth_dir}/conv_meta.parquet")
    plan = (
        audio_qc(session_identity(diary_rows, conv_meta, cfg), cfg)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_gated_pending_write_scans_only_key_store(
    spark, stream_input, synth_dir, cfg, monkeypatch, tmp_path_factory
):
    """The gated query's pending-flag write reads the compact tool-call key
    store and nothing else: no scan of the tool-calls directory, no
    stream-stream join, and no Python boundary."""
    import os
    import time

    from daily_journal_dataflow_qc_spark.streaming.job import start_session_qc_query
    from daily_journal_dataflow_qc_spark.streaming.sink import IdempotentBatchSink

    captured = []
    write = IdempotentBatchSink.write

    def capture(self, df, batch_id):
        if os.path.basename(self.dir) == "pending_flags":
            plan = df._jdf.queryExecution().executedPlan().toString()
            captured.append((plan, df.inputFiles()))
        write(self, df, batch_id)

    monkeypatch.setattr(IdempotentBatchSink, "write", capture)
    # a short root: the plan abbreviates a scan's location to 100 characters
    out_root = str(tmp_path_factory.mktemp("pg"))
    q, _ = start_session_qc_query(
        spark, f"{stream_input}/transcripts", out_root,
        spark.read.parquet(f"{synth_dir}/conv_meta.parquet"), cfg,
        max_files_per_trigger=1, tool_calls_dir=f"{stream_input}/tool_calls",
        trigger_seconds=0.5,
    )
    deadline = time.time() + 300
    try:
        while not captured and time.time() < deadline:
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(120)
    assert captured, "no pending-flag write observed"
    plan, files = captured[0]
    store = os.path.join(out_root, "_tool_call_keys")
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans, plan
    assert all("_tool_call_keys" in l for l in scans), scans
    assert files and all(store in f for f in files), files
    assert "StreamingSymmetricHashJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_issues_set_runtime_plan_shape(spark, synth_dir, cfg, tmp_path):
    """Scale pins for the one-pass issues log, asserted on the FINAL
    adaptive plan. SortMergeJoin is EXPECTED for the diary-grain x
    diary-grain reconciliations (lifecycle x accepted keys, transcript-QC
    identity x audio-QC counts): at production scale BOTH sides are
    unbounded (every diary ever), so hash-shuffled merge joins are the
    correct plan and forcing broadcast would OOM the driver. What must
    never appear: a cartesian/nested-loop join (an equi-condition fell
    off), a Python boundary (the issues log is pure JVM relational work),
    or a missing broadcast on the conv_meta dimension."""
    from daily_journal_dataflow_qc_spark.pipeline import (
        load_inputs,
        run_batch_from_dir,
        run_batch_staged,
    )

    spark.catalog.clearCache()
    tr, tc, cm = load_inputs(spark, synth_dir)
    staging = str(tmp_path / "staging")
    st = run_batch_staged(spark, tr, tc, cm, staging, cfg)
    df = st.issues
    df.collect()  # drive THIS DataFrame's query execution to the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the staged plan's issues output reads violated diaries and the
    # tqc/disf evidence from the persisted diary-grain frames, never by
    # re-running the per-turn redaction pass
    assert "EvalPython" not in plan, plan
    # conv_meta (the only true dimension) broadcasts
    assert "BroadcastHashJoin" in plan, plan
    # one rule pass: the tool-call rollup is read once, the keep-earliest
    # dedup is a distinct (no window), and the six tool-call families add
    # no join beyond the one lifecycle x accepted-keys frame
    nodes = _final_plan_nodes(df._jdf.queryExecution().executedPlan())
    kinds = [n.getClass().getSimpleName() for n in nodes]
    scans = [
        n for n in nodes
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and "tool_calls" in n.toString()
    ]
    assert len(scans) == 1, plan
    assert not [k for k in kinds if k.startswith("Window")], plan
    assert sum("Join" in k for k in kinds) <= 6, plan

    # the un-staged path reuses its persisted diary-grain frames (rollup +
    # flags) instead of re-deriving the wide turn pass per consuming
    # subtree (was measured at 8 copies of it in one issues plan before the
    # persists)
    out = run_batch_from_dir(spark, synth_dir, cfg)
    out.issues.collect()
    plan2 = out.issues._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan2, plan2[:2000]


def test_similarity_ivf_plan_shape(spark):
    """Scale pins for the IVF family: exactly the three necessary shuffles
    (cell-grain candidate counts for the automatic hot-cell split — a
    CELL-cardinality aggregate, not a data shuffle —, the (cell, sub_cell)-
    keyed search, and the cross-probe/pair reduce), the count table joined
    back by BROADCAST, both Python stages Arrow-batched (mapInPandas assign
    + grouped applyInPandas search), and never a cartesian/nested-loop join
    or a row-at-a-time Python UDF."""
    import numpy as np
    import pandas as pd

    from daily_journal_dataflow_qc_spark.operators.similarity import (
        embedding_near_dup,
        ivf_knn,
    )

    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((300, 8)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(300), "embedding": list(vecs)})
    )
    for out in (
        ivf_knn(df, n_cells=6, n_probe=2, k=1),
        embedding_near_dup(df, threshold=0.5, n_cells=6, n_probe=2),
    ):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        # the adaptive plan string repeats the tree under "== Initial Plan
        # ==" — count shuffles in the final section only
        final = plan.split("== Initial Plan ==")[0]
        real_shuffles = [
            l
            for l in final.splitlines()
            if "Exchange" in l and "BroadcastExchange" not in l
        ]
        assert len(real_shuffles) <= 3, plan
        assert final.count("BroadcastExchange") <= 1, plan


def test_assignments_row_plan_shape(spark):
    """Scale pins for the doc-grain assignments row (minhash_signature =
    signatures + sampling + packing + decontamination + mixture flag +
    multi-epoch counts + DSIR log-weight), r07 shape: the mixture flag AND
    the epoch count are pure per-row projections (no scan, no aggregate,
    no join — exactly what the DuckDB oracle computes), so the only
    broadcast joins left are the test-gram semi-join, the flagged-ids and
    dsir outer joins, and DSIR's stats join-back (4 total — never
    SortMergeJoin/cartesian/BNLJ), no Python anywhere, and the only
    exchanges are the two window partitionings (stratum source, pack shard
    — which since r07 carry the minhash longs, NOT the document text), the
    gram + flagged-id distincts, and DSIR's shape: the raw corpus is
    exploded ONCE into a (doc, bucket) count exchange that is REUSED by
    the bucket-distribution branch (the ReusedExchange assertion — a
    canonicalization regression shows up as a second corpus explode), ONE
    bucket-keyed stats exchange (target_filter mode: both distributions
    come from one conditional aggregation — there is no target-side scan,
    explode, or exchange at all), ONE 10k-row SinglePartition window
    total, and the doc-grain weight agg."""
    import os

    import __spark_entry__ as entry_mod

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    out = entry_mod.queries()["minhash_signature"](spark, sf_dir)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan, plan  # Batch- and ArrowEvalPython
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 4, plan
    assert "ReusedExchange" in final, plan  # dsir: ONE corpus explode
    n_shuffles = sum(
        1
        for l in final.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    )
    assert n_shuffles <= 10, plan
    n_bucket_shuffles = sum(
        1
        for l in final.splitlines()
        if "Exchange hashpartitioning(_bucket" in l
    )
    assert n_bucket_shuffles == 1, plan
    # the window sorts must not carry the document text (r07: minhash
    # columns are projected at the scan, text is dropped before the first
    # exchange); the stratum-rank Window's spec lists its input ordering —
    # its subtree sorts rows that contain mh0, never text
    pack_window = [l for l in final.splitlines() if "Window" in l and "pack" in l]
    assert pack_window and all("text#" not in l for l in pack_window), plan


def test_prepare_corpus_composed_plan_shape(spark):
    """The end-to-end chain (gate -> exact dedup -> near-dup cluster
    resolve -> decontamination -> split -> pack) composes stage plans
    without multiplying them. Stage plans are guarded individually
    (similarity/assignments/text-analysis guards above); this pins the
    COMPOSITION on a fixture where every stage genuinely fires (verbatim
    dups, near-dups, contaminated docs — AQE's empty-relation propagation
    would otherwise elide the anti-joins and vacuously pass): the final
    executed plan downstream of the checkpointed component frame has no
    SortMergeJoin / cartesian / Python boundary and stays inside a fixed
    real-shuffle budget (exact-dedup hash agg, survivor + decontam
    anti-join re-derivations, gram distinct, pack window)."""
    from pyspark.sql import functions as F

    from daily_journal_dataflow_qc_spark.operators.corpus import prepare_corpus

    def mk(ids, last):
        return spark.range(*ids).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("alpha beta gamma delta tok"),
                F.col("id").cast("string"),
                F.lit(" epsilon zeta eta "),
                F.lit(last),
            ).alias("text"),
        )

    base = mk((0, 60), "theta")
    dups = base.select((F.col("doc_id") + 60).alias("doc_id"), "text")
    near = mk((0, 60), "iota").select((F.col("doc_id") + 120).alias("doc_id"), "text")
    docs = base.unionAll(dups).unionAll(near)
    test_c = mk((0, 5), "theta").select((F.col("doc_id") + 900).alias("doc_id"), "text")
    out = prepare_corpus(docs, test_c, near_dup_threshold=0.5, decontam_k=8)
    rows = out.collect()
    # every stage fired: 60 base docs, minus the 5 whose 8-grams leak into
    # the test corpus (verbatim + near dups all collapsed)
    assert len(rows) == 55, len(rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, plan
    assert "CartesianProduct" not in final, plan
    assert "EvalPython" not in final, plan
    assert "BroadcastNestedLoopJoin" not in final, plan
    n_shuffles = sum(
        1
        for l in final.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l and "ReusedExchange" not in l
    )
    assert n_shuffles <= 8, plan


def test_text_analysis_row_plan_shape(spark):
    """Scale pins for the doc-grain analysis row (text_analysis = quality/
    repetition projections + the TF-IDF corpus round-trip + the bigram-LM
    perplexity pass): no Python, no SortMergeJoin/cartesian; the only
    nested-loop joins are the legitimate 1-row broadcasts (corpus count,
    LM vocab), and the exchange count stays at the corpus-stats shape
    (term counts, doc length, doc frequency, join-back, final doc aggs) —
    a rewrite that silently doubles it fails here. The LM contributes
    exactly ONE (prev,cur) count exchange: context totals and vocab read
    the persisted LM table (InMemoryTableScan), so a regression that
    re-derives the count subtree per consumer — a full extra corpus pass
    each — shows up as a 2nd/3rd bigram exchange."""
    import os

    import __spark_entry__ as entry_mod

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    out = entry_mod.queries()["text_analysis"](spark, sf_dir)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, plan
    assert "CartesianProduct" not in final, plan
    assert "EvalPython" not in final, plan
    assert final.count("BroadcastNestedLoopJoin") <= 2, plan
    n_shuffles = sum(
        1
        for l in final.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    )
    assert n_shuffles <= 10, plan
    n_bigram_shuffles = sum(
        1
        for l in final.splitlines()
        if "Exchange hashpartitioning(prev" in l
    )
    assert n_bigram_shuffles == 1, plan
    assert "InMemoryTableScan" in final, plan


def test_duplicate_spans_plan_shape(spark):
    """Scale pins for substring dedup (operators/dedup.py duplicate_spans):
    the span merge's groupBy(id, island) must REUSE the window's
    HashPartitioning(id) — exactly ONE doc-keyed exchange in the whole
    plan — and nothing may degrade to a cartesian/nested-loop join or a
    Python stage (the operator is all JVM built-ins). The duplicated-hash
    side of the flag join is deliberately not hint-broadcast (corpus-sized
    worst case), but AQE MAY convert it at runtime when it measures small —
    that is the desired adaptive behavior, so broadcasts are allowed here."""
    import pandas as pd
    from pyspark.sql import functions as F

    from daily_journal_dataflow_qc_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(60),
                "text": [
                    "w0 w1 w2 w3 w4 w5 w6 w7 shared tail" + (" uniq%d" % i) * (i % 3)
                    for i in range(60)
                ],
            }
        )
    )
    out = duplicate_spans(docs, k=8)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    real_shuffles = [
        l
        for l in final.splitlines()
        if "Exchange hashpartitioning" in l and "BroadcastExchange" not in l
    ]
    doc_keyed = [l for l in real_shuffles if "doc_id" in l]
    assert len(doc_keyed) == 1, plan  # window + groupBy share ONE exchange
    assert len(real_shuffles) <= 3, plan
