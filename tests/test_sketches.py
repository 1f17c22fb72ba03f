"""HyperLogLog sketch operators (operators/sketches.py): exact register
parity vs a pure-Python mirror, the merge-of-parts == sketch-of-whole
property, estimate accuracy, and edge handling."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from daily_journal_dataflow_qc_spark.functions.hashing import py_hex_hash
from daily_journal_dataflow_qc_spark.operators.sketches import (
    HASH_BITS,
    _alpha,
    hll_distinct,
    hll_estimate,
    hll_merge,
    hll_registers,
)


def _py_registers(keys, p, seed="hll"):
    m = 1 << p
    regs: dict[int, int] = {}
    for k in keys:
        h = py_hex_hash(str(k), f"{seed}:")
        b = h % m
        rho = (HASH_BITS - p) - (h >> p).bit_length() + 1
        regs[b] = max(regs.get(b, 0), rho)
    return regs


def _py_estimate(regs, p):
    m = 1 << p
    rmax = HASH_BITS - p + 1
    num = _alpha(m) * m * m * float(1 << rmax)
    total = sum(1 << (rmax - r) for r in regs.values()) + (m - len(regs)) * (
        1 << rmax
    )
    e = num / total
    v = m - len(regs)
    if e <= 2.5 * m and v > 0:
        return round(m * math.log(m / v), 4)
    return round(e, 4)


def test_hll_registers_match_python_mirror(spark):
    keys = [f"key{i}" for i in range(300)] + ["key0", "key7"]  # dups no-op
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    got = {
        int(r["bucket"]): int(r["register"])
        for r in hll_registers(df, "k", p=6).collect()
    }
    assert got == _py_registers(keys, p=6)
    est = hll_estimate(hll_registers(df, "k", p=6), p=6).collect()[0][0]
    assert est == pytest.approx(_py_estimate(_py_registers(keys, p=6), 6), abs=1e-9)


def test_hll_estimate_accuracy_and_dup_invariance(spark):
    n = 5000
    df = spark.range(n).select(F.concat(F.lit("doc"), F.col("id")).alias("k"))
    est = hll_distinct(df, "k", p=12).collect()[0][0]
    assert abs(est - n) / n < 0.05, est  # std err ~1.04/sqrt(4096) = 1.6%
    # exact duplicates cannot move a max-register sketch
    dup = df.union(df).union(df)
    assert hll_distinct(dup, "k", p=12).collect()[0][0] == est


def test_hll_merge_of_parts_equals_whole(spark):
    df = spark.range(2000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.concat(F.lit("s"), F.col("id") % 7).alias("source"),
    )
    per_source = hll_registers(df, "k", ["source"], p=8)
    merged = hll_merge(per_source, []).toPandas().set_index("bucket")
    whole = hll_registers(df, "k", p=8).toPandas().set_index("bucket")
    assert merged["register"].to_dict() == whole["register"].to_dict()
    # and the merged estimate equals the whole-corpus estimate exactly
    a = hll_estimate(hll_merge(per_source, []), [], p=8).collect()[0][0]
    b = hll_estimate(hll_registers(df, "k", p=8), [], p=8).collect()[0][0]
    assert a == b


def test_hll_edges(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", None, "b"], "g": ["x", "x", "x"]})
    )
    regs = hll_registers(df, "k", ["g"], p=4)
    assert regs.count() <= 2  # NULL key ignored
    est = hll_estimate(regs, ["g"], p=4).collect()[0]
    assert est["hll_est"] > 0
    with pytest.raises(ValueError, match="p="):
        hll_registers(df, "k", p=2)


def test_streaming_distinct_count(spark, tmp_path):
    """HLL registers as keyed streaming state (corpus_ingest.
    start_distinct_count_stream): after each trigger the emitted estimate
    equals the BATCH operator over the union of batches so far (identical
    registers + arithmetic — mergeability is what makes the bounded state
    correct), cross-batch duplicate texts never move it, and a restart
    continues from the checkpointed registers instead of resetting."""
    import time

    from daily_journal_dataflow_qc_spark.streaming.corpus_ingest import (
        start_distinct_count_stream,
    )

    in_dir = tmp_path / "adm"
    in_dir.mkdir()
    ts0 = pd.Timestamp("2025-06-01 12:00:00", tz="UTC")

    def mk(ids, name):
        pdf = pd.DataFrame(
            {
                "doc_id": list(ids),
                "text": [f"content number {i}" for i in ids],
                "source": "s0",
                "ts": ts0,
                "quality_score": 1.0,
                "top_2gram_frac": 0.0,
                "lang_pred": "en",
                "n_tokens": 3,
            }
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        pdf.to_parquet(in_dir / name)
        time.sleep(1.1)  # mtime order = arrival order

    mk(range(0, 40), "b0.parquet")
    mk(range(30, 80), "b1.parquet")  # 10 cross-batch duplicates

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_distinct_count_stream(
        spark, str(in_dir), out_dir, ck, p=6,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(300)
    got = spark.read.parquet(out_dir).toPandas().sort_values("n_seen")
    assert list(got.n_seen) == [40, 90]

    def batch_est(hi):
        df = spark.createDataFrame(
            pd.DataFrame({"k": [f"content number {i}" for i in range(hi)]})
        )
        return hll_distinct(df, "k", p=6).collect()[0][0]

    assert got.iloc[0].hll_est == pytest.approx(batch_est(40), abs=1e-6)
    assert got.iloc[1].hll_est == pytest.approx(batch_est(80), abs=1e-6)

    # restart: registers restore from the checkpoint, the count CONTINUES
    mk(range(80, 100), "b2.parquet")
    q2 = start_distinct_count_stream(
        spark, str(in_dir), out_dir, ck, p=6,
        max_files_per_trigger=1,
    )
    assert q2.awaitTermination(300)
    final = spark.read.parquet(out_dir).toPandas().sort_values("n_seen").iloc[-1]
    assert final.n_seen == 110
    assert final.hll_est == pytest.approx(batch_est(100), abs=1e-6)
