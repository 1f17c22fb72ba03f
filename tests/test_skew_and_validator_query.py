"""Salted-aggregate correctness + the launchable validator query."""


from pyspark.sql import functions as F

from daily_journal_dataflow_qc_spark.operators.skew import salted_turn_counts
from daily_journal_dataflow_qc_spark.streaming.job import start_validator_query


def test_salted_agg_matches_plain(spark, synth_dir):
    turns = spark.read.parquet(f"{synth_dir}/transcripts.parquet")
    got = salted_turn_counts(turns, salt_buckets=8).toPandas().set_index("conv_id")
    want = (
        turns.withColumn("_wc", F.size(F.split("text", " ", -1)))
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum("_wc").cast("long").alias("total_words"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .toPandas()
        .set_index("conv_id")
    )
    assert len(got) == len(want)
    for c in ("n_turns", "total_words", "first_ts", "last_ts"):
        assert (got[c].sort_index() == want[c].sort_index()).all(), c
    # plan shape: two aggregation exchanges (salted partial + final)
    plan = salted_turn_counts(turns)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4  # partial/final x 2 phases


def test_validator_query_runs(spark, stream_input, tmp_path):
    out_root = str(tmp_path)
    q, sink = start_validator_query(spark, f"{stream_input}/transcripts", out_root)
    q.awaitTermination(600)
    flags = sink.read(spark).toPandas()
    # the datagen injects verbatim re-deliveries (duplicate) and adjacent
    # turn_idx swaps (out_of_order) — both kinds must surface
    kinds = set(flags["kind"])
    assert "duplicate" in kinds
    assert "out_of_order" in kinds
    assert (flags["turn_idx"] > 0).all()
