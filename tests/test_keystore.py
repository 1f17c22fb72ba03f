"""IncrementalKeyStore: append, exactly-once replay and periodic
compaction (bounded file count)."""

import glob
import os
import warnings

import pandas as pd

from daily_journal_dataflow_qc_spark.streaming.keystore import IncrementalKeyStore

def _rows(spark, i: int):
    """The rows a micro-batch admits: one key per batch."""
    return spark.createDataFrame(
        [(f"c{i}", f"k{i}", "request")], "conv_id string, _tool_key string, kind string"
    )


def test_keystore_compaction_bounds_files_and_keeps_keys(spark, tmp_path):
    ROOT = str(tmp_path)
    store = IncrementalKeyStore(ROOT, "_keys", compact_every=8)

    n_batches = 40
    for b in range(n_batches):
        store.append(_rows(spark, b), b)

    got = store.read(spark).toPandas()
    assert sorted(got["_tool_key"]) == sorted(f"k{i}" for i in range(n_batches))

    # bounded store: live batch files + one compacted store, never O(batches)
    manifests = os.listdir(f"{ROOT}/_manifests__keys")
    batch_manifests = [m for m in manifests if m.startswith("batch-")]
    comp_manifests = [m for m in manifests if m.startswith("compaction-")]
    assert len(comp_manifests) == 1
    assert len(batch_manifests) < 8, batch_manifests
    data_dirs = os.listdir(f"{ROOT}/_keys")
    assert len(data_dirs) <= 8 + 1, data_dirs
    # the compacted store is ONE sorted parquet file
    comp_dir = [d for d in data_dirs if d.startswith("compact_id=")]
    assert len(comp_dir) == 1
    parts = glob.glob(f"{ROOT}/_keys/{comp_dir[0]}/part-*.parquet")
    assert len(parts) == 1
    sorted_keys = pd.read_parquet(parts[0])
    assert list(sorted_keys["conv_id"]) == sorted(sorted_keys["conv_id"])

    # exactly-once: replaying an already-committed batch is a no-op
    before = store.read(spark).count()
    store.append(_rows(spark, 998), n_batches - 1)
    assert store.read(spark).count() == before

    # a replay of a COMPACTED-AWAY batch id must be a FULL no-op: rows
    # appended under a covered id would be filtered by read() and lost
    store.append(_rows(spark, 999), 3)
    assert store.read(spark).count() == before
    # ...the next LIVE batch appends
    store.append(_rows(spark, 999), n_batches)
    got3 = store.read(spark).toPandas()
    assert "k999" in set(got3["_tool_key"]) and len(got3) == before + 1

    # every manifest read closes its file
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert store.sink.committed(n_batches)
        store.read(spark)
        store.sink.read(spark)
    leaked = [w for w in caught if issubclass(w.category, ResourceWarning)]
    assert not leaked, [str(w.message) for w in leaked]
