"""Streaming corpus ingestion — the training-data front door as a
Structured Streaming job: documents land continuously (crawl output, log
drain), and each micro-batch is quality-gated, repetition-gated, and
content-deduped before it ever reaches the batch corpus-prep chain
(``operators/corpus.prepare_corpus`` then runs dedup-cluster resolution /
decontamination / packing over the admitted store on its own cadence —
those stages need corpus-global state and stay batch by design).

Streaming-safe by construction: the quality/repetition gate is the same
pure projection the batch tier uses (``with_text_analysis`` — no window,
no corpus statistic), and dedup is ``dropDuplicatesWithinWatermark`` on
the content hash, so state holds one hash per distinct doc inside the
lateness horizon, not the corpus.

Dedup semantics (documented divergence from batch): streaming keeps the
FIRST ARRIVAL of each content hash within the watermark horizon; the
batch tier's ``exact_dedup`` keeps the MIN-ID copy. The two agree when
arrival order follows id order (the parity test constructs exactly that),
and a re-delivery later than the watermark re-admits the content.

100-TB shape: gate before state (rejected docs never enter the dedup
store), hash-only state keys, RocksDB + changelog checkpointing via the
shared STREAM_CONF, exactly-once via the parquet FileStreamSink commit
log.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.textanalysis import with_text_analysis
from .job import _apply_stream_conf, _read_stream

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
        StructField("ts", TimestampType()),
    ]
)

#: columns the admitted store keeps. The analysis columns ride along for
#: audit/monitoring of the gate's decisions; NB the batch chain
#: (prepare_corpus) recomputes them from text — it takes raw corpora too
_OUT_COLS = [
    "doc_id",
    "text",
    "source",
    "ts",
    "quality_score",
    "top_2gram_frac",
    "lang_pred",
    "n_tokens",
]


def start_corpus_ingest_stream(
    spark: SparkSession,
    input_loc: str,
    output_dir: str,
    checkpoint_dir: str,
    min_quality: float = 0.66,
    max_top_2gram: float = 0.5,
    dedup_watermark: str = "1 hour",
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the ingest stream: parquet-dir or catalog-table source ->
    quality/repetition gate -> first-arrival content dedup -> exactly-once
    parquet append of the admitted docs. ``max_files_per_trigger`` caps the
    micro-batch size (file sources only) — production backpressure knob and
    the kill/resume test's lever for multi-batch replay."""
    _apply_stream_conf(spark)
    docs = _read_stream(spark, input_loc, DOC_STREAM_SCHEMA, max_files_per_trigger)
    scored = with_text_analysis(docs)
    admitted = (
        scored.filter(
            (F.col("quality_score") >= min_quality)
            & (F.col("top_2gram_frac") <= max_top_2gram)
        )
        .withColumn("n_tokens", F.col("ws_tokens"))
        .withColumn("content_hash", F.md5(F.col("text")))
        .withWatermark("ts", dedup_watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .select(*_OUT_COLS)
    )
    writer = (
        admitted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------------ budgeted admission stage

#: schema of the admitted store the ingest stream writes (its _OUT_COLS)
ADMITTED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
        StructField("ts", TimestampType()),
        StructField("quality_score", DoubleType()),
        StructField("top_2gram_frac", DoubleType()),
        StructField("lang_pred", StringType()),
        StructField("n_tokens", LongType()),
    ]
)

BUDGET_STATE_SCHEMA = StructType(
    [StructField("cum_tokens", LongType(), False)]
)

BUDGET_OUT_SCHEMA = StructType(
    ADMITTED_SCHEMA.fields
    + [StructField("cum_source_tokens", LongType(), False)]
)


def _budget_admit_fn(source_budgets: dict[str, int], default_budget: int):
    """Factory: the per-source keyed admission function (budgets captured
    in the closure so the Arrow worker ships plain data, no Spark refs)."""
    import pandas as pd

    def admit(key, pdf_iter, state):
        (source,) = key
        budget = source_budgets.get(source, default_budget)
        cum = int(state.get[0]) if state.exists else 0
        chunks = [p for p in pdf_iter if len(p)]
        out = None
        if chunks:
            pdf = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            # deterministic within-batch order: arrival time, then id
            pdf = pdf.sort_values(["ts", "doc_id"], ignore_index=True)
            if pdf["n_tokens"].isna().any():
                raise ValueError(
                    "budget admission: null n_tokens in admitted rows — "
                    "the strict cumulative budget needs a non-null token "
                    "count on every row (same contract as "
                    "select_by_token_budget's null-token guard)"
                )
            run = cum + pdf["n_tokens"].to_numpy("int64").cumsum()
            keep = run <= budget
            cum = int(run[-1])
            if keep.any():
                out = pdf[keep].assign(cum_source_tokens=run[keep])
        state.update((cum,))
        if out is not None:
            yield out

    return admit


def start_budget_admission_stream(
    spark: SparkSession,
    admitted_loc: str,
    output_dir: str,
    checkpoint_dir: str,
    source_budgets: dict[str, int] | None = None,
    default_budget: int = 0,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous per-source token-budget admission — the streaming
    counterpart of ``operators/sampling.select_by_token_budget``: reads the
    ingest stream's admitted store and passes each source's docs through
    while that source's CUMULATIVE token count stays within its budget
    (``source_budgets`` per source name incl. a ``None`` key for null
    sources; everything else gets ``default_budget`` — 0 = closed).

    Semantics are the batch operator's PREFIX RULE transposed to arrival
    order (streaming has no global score order): every gated doc advances
    the source's running total whether admitted or not, so once a source
    overflows, later docs are rejected no matter how small — monotone,
    replay-stable, and O(1) state. Within a micro-batch the order is
    (ts, doc_id); across batches it is the checkpointed batch sequence, so
    a kill/resume replays identical decisions.

    Runs as its OWN query chained through storage (admitted store ->
    budgeted store) rather than stacking a second stateful operator on the
    ingest query: ``applyInPandasWithState`` composes with
    ``dropDuplicatesWithinWatermark`` only under the multi-stateful
    restrictions, and the storage seam is the pattern the QC tier already
    uses (pending -> merge). 100-TB shape: state is ONE long per source
    (bounded by source cardinality, not rows); the group shuffle is keyed
    by source — a single enormous source serializes through one task per
    trigger, which is the price of a STRICT global budget for that source
    (shard the source name upstream if approximate budgeting is
    acceptable)."""
    _apply_stream_conf(spark)
    from pyspark.sql.streaming.state import GroupStateTimeout

    docs = _read_stream(spark, admitted_loc, ADMITTED_SCHEMA, max_files_per_trigger)
    admitted = docs.groupBy("source").applyInPandasWithState(
        _budget_admit_fn(source_budgets or {}, default_budget),
        outputStructType=BUDGET_OUT_SCHEMA,
        stateStructType=BUDGET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        admitted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------- streaming cardinality stage

CARD_STATE_SCHEMA = StructType(
    [
        StructField("registers", ArrayType(IntegerType()), False),
        StructField("n_seen", LongType(), False),
    ]
)

CARD_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("n_seen", LongType(), False),
        StructField("hll_est", DoubleType(), False),
    ]
)


def _cardinality_fn(p: int):
    """Factory: per-source HLL register state. The (bucket, rho) columns
    arrive pre-computed JVM-side (sketches.hll_bucket_rho), so the state
    function is a vectorized numpy max-scatter — no Python hashing."""
    import numpy as np
    import pandas as pd

    from ..operators.sketches import py_hll_estimate

    m = 1 << p

    def track(key, pdf_iter, state):
        (source,) = key
        if state.exists:
            regs_list, n_seen = state.get
            if len(regs_list) != m:
                raise ValueError(
                    f"distinct-count state for source {source!r} holds "
                    f"{len(regs_list)} registers but p={p} needs {m} — the "
                    "stream was restarted with a different p than its "
                    "checkpoint; registers are not convertible across p"
                )
            regs = np.array(regs_list, dtype=np.int64)
            n_seen = int(n_seen)
        else:
            regs, n_seen = np.zeros(m, dtype=np.int64), 0
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            np.maximum.at(
                regs,
                pdf["bucket"].to_numpy(dtype=np.int64),
                pdf["rho"].to_numpy(dtype=np.int64),
            )
            n_seen += len(pdf)
        state.update(([int(x) for x in regs], n_seen))
        yield pd.DataFrame(
            {
                "source": [source],
                "n_seen": [n_seen],
                "hll_est": [py_hll_estimate(regs, p)],
            }
        )

    return track


def start_distinct_count_stream(
    spark: SparkSession,
    admitted_loc: str,
    output_dir: str,
    checkpoint_dir: str,
    p: int = 12,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous distinct-content cardinality per source — the HLL sketch
    (operators/sketches.py) carried as KEYED STREAMING STATE: each trigger
    max-merges the batch's (bucket, rho) projections into the source's
    register array and appends one (source, n_seen, hll_est) row.

    This is what the sketch's mergeability buys in a stream: BOUNDED state
    (2^p ints per source — never a hash set of everything seen) with the
    estimate after batch k provably identical to the batch operator run
    over batches 0..k's union (same registers, same scaled-integer
    arithmetic; the test pins it). Registers survive restarts with the
    checkpoint, so the count continues rather than resets — the same
    storage-chained single-stateful-query pattern as the budget stage.
    Rows with NULL text are ignored (no content to count)."""
    _apply_stream_conf(spark)
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.sketches import hll_bucket_rho

    docs = _read_stream(spark, admitted_loc, ADMITTED_SCHEMA, max_files_per_trigger)
    bucket, rho = hll_bucket_rho(F.col("text"), p)
    proj = docs.filter(F.col("text").isNotNull()).select(
        "source", bucket.alias("bucket"), rho.alias("rho")
    )
    counted = proj.groupBy("source").applyInPandasWithState(
        _cardinality_fn(p),
        outputStructType=CARD_OUT_SCHEMA,
        stateStructType=CARD_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        counted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
