import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from daily_journal_dataflow_qc_spark.config import PipelineConfig
from daily_journal_dataflow_qc_spark.datagen import generate, write_parquet
from daily_journal_dataflow_qc_spark.session import get_spark

CACHE_DIR = "/tmp/djdq_testdata_n50_s42"


@pytest.fixture(scope="session")
def spark():
    # saveAsTable tests write managed tables under the warehouse dir; keep
    # them in a per-session temp dir so no run leaves tables in the checkout
    # (a leftover table dir fails the next CREATE with LOCATION_ALREADY_EXISTS)
    warehouse = tempfile.mkdtemp(prefix="djdq_warehouse_")
    s = get_spark(
        app_name="djdq-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="session")
def cfg():
    return PipelineConfig()


@pytest.fixture(scope="session")
def synth_pdfs():
    return generate(n_convs=50, seed=42)


@pytest.fixture(scope="session")
def synth_dir(synth_pdfs):
    write_parquet(CACHE_DIR, n_convs=50, seed=42)
    return CACHE_DIR


@pytest.fixture(scope="session")
def stream_input(spark, synth_dir):
    """Multi-file copy of the synthetic transcripts so the file source can
    form several micro-batches; each conv stays in ONE file so per-batch
    submission ranking matches the reference/batch semantics (§7.3.1).
    Includes an end-of-stream sentinel (separate later-mtime file) so the
    final watermark closes every real session, plus a time-ordered variant
    for kill/resume runs."""
    import time

    from pyspark.sql import functions as F

    root = "/tmp/djdq_stream_input"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(f"{root}/transcripts")
    os.makedirs(f"{root}/tool_calls")
    tr = spark.read.parquet(f"{synth_dir}/transcripts.parquet")
    sentinel = tr.limit(1).select(
        F.lit("__sentinel__").alias("conv_id"),
        F.lit(1).cast("int").alias("turn_idx"),
        F.lit("S1").alias("role"),
        F.lit("end").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.to_timestamp(F.lit("2090-01-01 00:00:00"))).alias("ts"),
    )
    tr.repartition(6, "conv_id").write.mode("overwrite").parquet(f"{root}/transcripts")
    time.sleep(1.2)
    sentinel.coalesce(1).write.mode("append").parquet(f"{root}/transcripts")

    (
        spark.read.parquet(f"{synth_dir}/tool_calls.parquet")
        .repartition(4, "conv_id")
        .write.mode("overwrite")
        .parquet(f"{root}/tool_calls")
    )

    # time-ordered variant: files split on ts quantiles with increasing
    # mtime, simulating stream progression
    os.makedirs(f"{root}/transcripts_timed")
    bounds = (
        tr.selectExpr("percentile(cast(ts as double), array(0.25, 0.5, 0.75)) p").head()[0]
    )
    prev = None
    for b in list(bounds) + [None]:
        part = tr
        if prev is not None:
            part = part.filter(F.col("ts").cast("double") >= prev)
        if b is not None:
            part = part.filter(F.col("ts").cast("double") < b)
        part.coalesce(1).write.mode("append").parquet(f"{root}/transcripts_timed")
        time.sleep(1.2)
        prev = b
    sentinel.coalesce(1).write.mode("append").parquet(f"{root}/transcripts_timed")
    return root
