#!/usr/bin/env python
"""spark-submit entrypoint for the continuous QC streaming job.

Cluster deployment (the north-rule run mode):

    python scripts/submit_streaming_job.py --build-zip /tmp/djdq.zip
    spark-submit \\
        --master <cluster-master> \\
        --py-files /tmp/djdq.zip \\
        scripts/submit_streaming_job.py \\
        --input  <dir-or-table-of-transcripts> \\
        --output <output-root> \\
        --conv-meta <conv_meta parquet> \\
        [--tool-calls <tool-call dir>] \\
        [--trigger 60] \\
        [--with-validator]

Under spark-submit the session comes from the submit-provided context
(master/deploy-mode/executors are cluster args, not code); `--py-files`
ships the package zip, which is exactly what session.get_spark() emulates
locally via addPyFile. The job checkpoints under <output>/_checkpoint_* and
is resumable: re-submitting with the same output root continues from the
last committed batch (exactly-once sinks make replays no-ops). A metrics
listener writes per-batch lineage/metrics to <output>/metrics.jsonl.

With no ``--trigger`` the job runs availableNow (drain-and-stop — the batch
parity mode the tests use); with ``--trigger N`` it becomes the continuous
CEP job, one micro-batch every N seconds.
"""

from __future__ import annotations

import argparse
import os
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_pyfiles_zip(out_path: str) -> str:
    """Package the engine for --py-files deployment."""
    pkg_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "daily_journal_dataflow_qc_spark",
    )
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in os.walk(pkg_root):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, os.path.dirname(pkg_root))
                z.write(full, rel)
    return out_path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--build-zip", metavar="PATH",
                    help="write the --py-files package zip and exit")
    ap.add_argument("--input", help="transcript stream directory/table")
    ap.add_argument("--output", help="output root (sinks + checkpoints + metrics)")
    ap.add_argument("--conv-meta", help="conv_meta parquet path")
    ap.add_argument("--tool-calls", default=None,
                    help="tool-call stream dir (enables returned-gating, the "
                         "transcript sinks and the pending-flag sink)")
    ap.add_argument("--trigger", type=float, default=None,
                    help="processing-time trigger seconds; omit for availableNow")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--with-validator", action="store_true",
                    help="also run the keyed turn-stream validator")
    ap.add_argument("--local", metavar="N", default=None,
                    help="run on local[N] instead of the submit-provided master "
                         "(smoke tests)")
    args = ap.parse_args(argv)

    if args.build_zip:
        print(build_pyfiles_zip(args.build_zip))
        return 0
    if not (args.input and args.output and args.conv_meta):
        ap.error("--input, --output and --conv-meta are required (or --build-zip)")

    if args.local is not None:
        from daily_journal_dataflow_qc_spark.session import get_spark

        spark = get_spark(app_name="djdq-submit", master=f"local[{args.local}]")
    else:
        # under spark-submit the builder binds to the submitted context;
        # --py-files already shipped the package
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("djdq-streaming-qc")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .getOrCreate()
        )

    from daily_journal_dataflow_qc_spark.streaming.job import (
        start_session_qc_query,
        start_validator_query,
    )
    from daily_journal_dataflow_qc_spark.streaming.metrics import attach_metrics

    listener = attach_metrics(spark, os.path.join(args.output, "metrics.jsonl"))
    conv_meta = spark.read.parquet(args.conv_meta)

    queries = []
    q, _ = start_session_qc_query(
        spark,
        args.input,
        args.output,
        conv_meta,
        max_files_per_trigger=args.max_files_per_trigger,
        tool_calls_dir=args.tool_calls,
        trigger_seconds=args.trigger,
    )
    queries.append(q)
    if args.with_validator:
        qv, _ = start_validator_query(
            spark, args.input, args.output,
            max_files_per_trigger=args.max_files_per_trigger,
            trigger_seconds=args.trigger,
        )
        queries.append(qv)

    # availableNow queries drain and stop; processing-time queries run until
    # killed (checkpoint makes the next submit resume exactly-once)
    for q in queries:
        q.awaitTermination()
    del listener
    return 0


if __name__ == "__main__":
    sys.exit(main())
