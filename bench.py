#!/usr/bin/env python
"""Benchmark harness: flagship QC-pipeline throughput + operator queries.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "turns_per_sec": ...}

Env / args:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1) — operator-query input
  SPARK_GRAFT_CPUS    (default 32)                   — local[N]
  --master local[N]       override master
  --flagship-only         skip operator queries (used by the scaling bench)
  --replicas K            bench transcript volume (default 20)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "tpch_pricing",
    "type_rollup",
    "join_left_rollup",
    "topk_per_group",
    "sessionization",
    "lead_gaps",
    "tumbling_4am",
    "text_metrics",
    "text_analysis",
    "minhash_signature",
    "embedding_nn",
    "dedup_exact_docs",
]


def warmup(spark) -> None:
    """Warm the JVM (codegen paths) and every forked Python worker (pandas
    import) before timing — the 1-core-per-worker cold import storm is a
    one-time session cost, not steady-state throughput."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _w(s):
        return s * 1.0

    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, cores * 1000, 1, cores * 2)
    df.select(_w(df.id.cast("double")).alias("x")).agg(F.sum("x")).collect()
    df.groupBy((df.id % 7).alias("k")).count().collect()


def materialize(df) -> int:
    """Force FULL computation of every column without driver collection.
    (A bare count() lets Catalyst prune unreferenced columns — it would
    under-measure column-heavy operators.)"""
    df.write.format("noop").mode("overwrite").save()
    return -1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None)
    ap.add_argument("--flagship-only", action="store_true")
    ap.add_argument(
        "--plan",
        choices=["staged", "cached"],
        default="staged",
        help="flagship materialization plan: single-pass staged parquet "
        "(default) vs wide in-memory cache + fan-out",
    )
    ap.add_argument("--timed-runs", type=int, default=2,
                    help="timed repetitions per operator query (best-of-N, after one untimed warm pass)")
    ap.add_argument("--replicas", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPLICAS", "20")))
    ap.add_argument("--base-convs", type=int, default=120)
    ap.add_argument("--no-streaming", action="store_true",
                    help="skip the Structured Streaming (availableNow) throughput section")
    ap.add_argument("--streaming-only", action="store_true",
                    help="run ONLY the streaming section (skips flagship + operator "
                    "queries) — used for quiet-host streaming re-benches")
    ap.add_argument("--streaming-runs", type=int, default=1,
                    help="repetitions of the streaming section (best-of-N, fresh "
                    "checkpoint per run; 1 by default — the single-run wall "
                    "deliberately includes checkpoint/commit overhead)")
    args = ap.parse_args()

    from daily_journal_dataflow_qc_spark.config import PipelineConfig
    from daily_journal_dataflow_qc_spark.datagen import write_parquet_scaled
    from daily_journal_dataflow_qc_spark.pipeline import load_inputs, run_batch_staged
    from daily_journal_dataflow_qc_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    bench_dir = f"/tmp/djdq_bench_b{args.base_convs}_r{args.replicas}"
    write_parquet_scaled(bench_dir, base_convs=args.base_convs, replicas=args.replicas)

    # 16m leaf splits: the bench input is a single large parquet file, and
    # the default 128m maxPartitionBytes would cap the scan (and the first
    # shuffle-write) at a handful of tasks regardless of core count —
    # an input-layout artifact, not a property of the engine.
    # Scratch (shuffle dirs + the staged turn-stats table) goes to tmpfs
    # when available: this single-host bench shares ONE disk across all
    # cores, while a real cluster has per-executor scratch I/O that scales
    # with executors — the shared spindle is a sandbox artifact, not a
    # property of the plan. Override with SPARK_GRAFT_SCRATCH.
    scratch = os.environ.get(
        "SPARK_GRAFT_SCRATCH",
        "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp",
    )
    conf = {
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.local.dir": os.path.join(scratch, "djdq_spark_local"),
    }
    # SPARK_GRAFT_EVENTLOG_DIR=<dir>: write the Spark event log so
    # scripts/eventlog_decompose.py can split a run's wall into executor
    # task time vs inter-job driver gaps (the non-scaling constant in the
    # scaling-efficiency model)
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ev_dir,
                "spark.eventLog.rolling.enabled": "true",
            }
        )
    spark = get_spark(app_name="djdq-bench", master=args.master, extra_conf=conf)
    warmup(spark)
    timings: dict[str, float] = {}

    # ---- flagship: full QC pipeline over the scaled transcript stream,
    # SINGLE-PASS STAGED plan: the wide per-turn stats (redaction + metrics
    # + windows + text) are written ONCE to a columnar staging table; every
    # diary-level row set derives from column-pruned re-reads of it — no
    # wide in-memory cache, no repeated full-width traversals
    n_turns = spark.read.parquet(f"{bench_dir}/transcripts.parquet").count()
    transcripts, tool_calls, conv_meta = load_inputs(spark, bench_dir)
    staging_dir = os.path.join(scratch, f"djdq_staging_{os.getpid()}")
    from concurrent.futures import ThreadPoolExecutor

    def run_flagship() -> tuple[float, object]:
        t0 = time.time()
        if args.plan == "staged":
            out = run_batch_staged(
                spark, transcripts, tool_calls, conv_meta, staging_dir, PipelineConfig()
            )
        else:
            from daily_journal_dataflow_qc_spark.pipeline import run_batch

            out = run_batch(
                transcripts, tool_calls, conv_meta, PipelineConfig(),
                persist_intermediates=True,
            )
        # remaining sinks fan out CONCURRENTLY over the staged table + the
        # small persisted diary frames
        outputs = [out.accepted, out.rejected, out.issues, out.turn_stats]
        with ThreadPoolExecutor(4) as pool:
            list(pool.map(materialize, outputs))
        return time.time() - t0, out

    import atexit
    import shutil

    atexit.register(shutil.rmtree, staging_dir, ignore_errors=True)

    counts: dict[str, int] = {}
    turns_per_sec = None
    if not args.streaming_only:
        # best-of-N like the operator queries (single-run flagship numbers mix
        # page-cache state of the freshly (re)generated input into the timing);
        # clearCache between runs — the plan persists qc/rollup internally and
        # CacheManager would otherwise serve run 2 from run 1's cache
        pipeline_sec, out = run_flagship()
        for _ in range(max(0, args.timed_runs - 1)):
            spark.catalog.clearCache()
            sec, out = run_flagship()
            pipeline_sec = min(pipeline_sec, sec)
        # row counts (cheap: upstream stages are cached), outside the timing
        counts = {
            "accepted": out.accepted.count(),
            "rejected": out.rejected.count(),
            "issues": out.issues.count(),
            "turn_stats": out.turn_stats.count(),
        }
        timings["qc_pipeline"] = round(pipeline_sec, 3)
        turns_per_sec = n_turns / pipeline_sec

    # ---- operator queries over the driver tables.
    # One UNTIMED warm pass per query (first execution pays JIT/codegen and,
    # on a loaded shared host, can read 10-15x steady-state — BENCH_r02's
    # minhash "regression" was exactly this), then best-of-N timed runs so
    # round-over-round comparisons measure the plan, not the first-run noise.
    if not args.flagship_only and not args.streaming_only:
        import __spark_entry__ as entry_mod

        qs = entry_mod.queries()
        for name in BENCH_QUERIES:
            materialize(qs[name](spark, sf_dir))  # warm (untimed)
            best = float("inf")
            for _ in range(args.timed_runs):
                t0 = time.time()
                materialize(qs[name](spark, sf_dir))
                best = min(best, time.time() - t0)
            timings[name] = round(best, 3)

    # ---- streaming tier: the SAME flagship semantics as a Structured
    # Streaming job (projection -> watermarked session_window agg ->
    # foreachBatch identity/acceptance -> exactly-once sinks), driven
    # availableNow over a multi-file copy of the bench input plus a
    # far-future sentinel (closes every real session under the watermark).
    # Single run: streaming wall includes checkpoint/sink commit overhead by
    # design — that IS the streaming cost being measured.
    streaming_tps = None
    if not args.no_streaming and not args.flagship_only:
        import shutil as _shutil

        from pyspark.sql import functions as F

        from daily_journal_dataflow_qc_spark.streaming.job import (
            start_session_qc_query,
        )

        from daily_journal_dataflow_qc_spark.datagen import DATAGEN_VERSION

        stream_in = os.path.join(bench_dir, "stream_transcripts")
        # marker carries the datagen version: a regenerated transcripts.parquet
        # must invalidate the streaming copy too, or the throughput denominator
        # (n_turns from the NEW file) would divide a wall time over OLD data
        marker = os.path.join(
            stream_in,
            f"_READY_dg{DATAGEN_VERSION}_b{args.base_convs}_r{args.replicas}",
        )
        if not os.path.isfile(marker):
            _shutil.rmtree(stream_in, ignore_errors=True)
            tr = spark.read.parquet(f"{bench_dir}/transcripts.parquet")
            tr.repartition(8, "conv_id").write.mode("overwrite").parquet(stream_in)
            time.sleep(1.1)  # sentinel must carry a LATER mtime
            sentinel = tr.limit(1).select(
                F.lit("__sentinel__").alias("conv_id"),
                F.lit(1).cast("int").alias("turn_idx"),
                F.lit("S1").alias("role"),
                F.lit("end").alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.to_timestamp(F.lit("2090-01-01 00:00:00")).alias("ts"),
            )
            sentinel.coalesce(1).write.mode("append").parquet(stream_in)
            with open(marker, "w") as f:
                f.write("ok")
        out_base = os.path.join(scratch, f"djdq_stream_bench_{os.getpid()}")
        shutil.rmtree(out_base, ignore_errors=True)
        atexit.register(shutil.rmtree, out_base, ignore_errors=True)
        conv_meta_df = spark.read.parquet(f"{bench_dir}/conv_meta.parquet")
        # state-partition sizing: the BATCH plan wants a high static shuffle
        # width (sort-spill headroom at 27M+ rows) but a STATEFUL stream pays
        # per-partition state-store open/commit overhead every micro-batch —
        # size the streaming section to the core count instead (measured 2x:
        # 22s at 32 partitions vs 42s at 256 on the same input; state
        # partition count is fixed at checkpoint creation, fresh per bench).
        # On a real cluster: ~2-4x executor cores.
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
        try:
            best_sec, best_sinks = None, None
            for run_i in range(max(1, args.streaming_runs)):
                out_root = os.path.join(out_base, f"run{run_i}")
                t0 = time.time()
                q, sinks = start_session_qc_query(
                    spark, stream_in, out_root, conv_meta_df, PipelineConfig()
                )
                finished = q.awaitTermination(600)
                streaming_sec = time.time() - t0
                if not finished:
                    # timed out: the wall time is a clamp, not a measurement —
                    # stop the query cleanly rather than report a bogus rate
                    q.stop()
                    q.awaitTermination(60)
                    break
                if best_sec is None or streaming_sec < best_sec:
                    best_sec, best_sinks = streaming_sec, sinks
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if best_sec is not None:
            timings["streaming_qc"] = round(best_sec, 3)
            streaming_tps = round(n_turns / best_sec, 1)
            counts["streaming_audio_qc"] = best_sinks["audio_qc"].read(spark).count()
        else:
            counts["streaming_audio_qc"] = -1

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "qc_pipeline_and_operator_suite",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "bench_turns": n_turns,
                "turns_per_sec": round(turns_per_sec, 1) if turns_per_sec else None,
                "streaming_turns_per_sec": streaming_tps,
                "pipeline_output_rows": counts,
                "master": args.master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
            }
        )
    )


if __name__ == "__main__":
    main()
