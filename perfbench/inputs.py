"""Seeded benchmark inputs, cached inside the checkout.

One cache entry per (DATAGEN_VERSION, base_convs, replicas, seed, increments)
holds:

- the three batch tables, written exactly as ``datagen.write_parquet_scaled``
  writes them;
- the stream copy: the transcripts cut into ``increments`` time-ordered
  files with increasing mtimes (the file source admits them in that order),
  the far-future sentinel riding in the last file so the final watermark
  closes every real session;
- ``expected.json``: what the pandas oracle says the outputs must be;
- ``pinned_<workload>.json``: the first checked outputs of each workload,
  which every later run on this seed must reproduce.

Only the newest ``KEEP`` entries stay on disk.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from daily_journal_dataflow_qc_spark.config import PipelineConfig
from daily_journal_dataflow_qc_spark.datagen import DATAGEN_VERSION, generate_scaled
from daily_journal_dataflow_qc_spark.oracle import pandas_oracle

KEEP = 4
READY = "_READY"
SENTINEL_TS = pd.Timestamp("2090-01-01", tz="UTC")
# the same writer options as datagen.write_parquet_scaled
PQ_OPTS = dict(
    index=False,
    coerce_timestamps="us",
    allow_truncated_timestamps=True,
    row_group_size=250_000,
)


@dataclass(frozen=True)
class Inputs:
    dir: str
    n_turns: int
    stream_dir: str
    expected: dict

    def table(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")


def cache_key(base_convs: int, replicas: int, seed: int, increments: int) -> str:
    return f"dg{DATAGEN_VERSION}_b{base_convs}_r{replicas}_s{seed}_k{increments}"


def set_digest(rows) -> str:
    """Order-independent digest of a set of string tuples."""
    h = hashlib.sha256()
    for row in sorted(set(rows)):
        h.update("\x1f".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def diary_keys(conv_id: pd.Series, session_start: pd.Series) -> list[tuple[str, str]]:
    """(conv_id, session start in epoch microseconds): a diary's identity
    that does not depend on submission numbering."""
    ts = pd.to_datetime(session_start)
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert(None)
    us = ts.astype("datetime64[us]").astype("int64")
    return list(zip(conv_id.astype(str), us.astype(str)))


def day_keys(conv_id: pd.Series, day: pd.Series) -> list[tuple[str, str]]:
    return list(zip(conv_id.astype(str), day.astype("int64").astype(str)))


def _expected(tr: pd.DataFrame, tc: pd.DataFrame, cm: pd.DataFrame) -> dict:
    gold = pandas_oracle.compute(tr, tc, cm, PipelineConfig())
    aqc, acc = gold["audio_qc"], gold["accepted"]
    return {
        "counts": {k: int(len(v)) for k, v in gold.items()},
        "diaries": set_digest(diary_keys(aqc["conv_id"], aqc["session_start"])),
        "accepted_days": set_digest(day_keys(acc["conv_id"], acc["day"])),
    }


def _write_stream(tr_utc: pd.DataFrame, schema: pa.Schema, out: str, increments: int) -> None:
    """Time-ordered increments: cut on ts quantiles so every increment is a
    later slice of event time (an out-of-order increment would be dropped
    behind the watermark), each in one file, mtimes strictly increasing."""
    os.makedirs(os.path.join(out, "transcripts"))
    secs = tr_utc["ts"].astype("int64").to_numpy()
    cuts = np.quantile(secs, [i / increments for i in range(1, increments)])
    slot = np.searchsorted(cuts, secs, side="right")
    sentinel = pd.DataFrame(
        {"conv_id": ["__sentinel__"], "turn_idx": [1], "role": ["S1"],
         "text": ["end"], "tool": [None], "ts": [SENTINEL_TS]}
    ).astype({"turn_idx": tr_utc["turn_idx"].dtype})
    base = time.time() - increments - 10
    for i in range(increments):
        part = tr_utc[slot == i]
        if i == increments - 1:
            part = pd.concat([part, sentinel], ignore_index=True)
        path = os.path.join(out, "transcripts", f"increment-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=schema, preserve_index=False), path)
        os.utime(path, (base + i, base + i))


def _build(entry: str, base_convs: int, replicas: int, seed: int, increments: int) -> None:
    tr, tc, cm = generate_scaled(base_convs, replicas, seed)
    expected = _expected(tr, tc, cm)
    tr_utc = tr.assign(ts=tr["ts"].dt.tz_localize("UTC"))
    tc_utc = tc.assign(ts=tc["ts"].dt.tz_localize("UTC"))
    os.makedirs(entry)
    tr_utc.to_parquet(os.path.join(entry, "transcripts.parquet"), **PQ_OPTS)
    tc_utc.to_parquet(os.path.join(entry, "tool_calls.parquet"), **PQ_OPTS)
    cm.to_parquet(os.path.join(entry, "conv_meta.parquet"), **PQ_OPTS)
    schema = pq.read_schema(os.path.join(entry, "transcripts.parquet")).remove_metadata()
    _write_stream(tr_utc, schema, os.path.join(entry, "stream"), increments)
    expected["n_turns"] = int(len(tr))
    with open(os.path.join(entry, "expected.json"), "w") as f:
        json.dump(expected, f)


def prepare(
    cache_root: str, base_convs: int, replicas: int, seed: int, increments: int
) -> Inputs:
    """Return the cached inputs for this key, building them on a miss."""
    entry = os.path.join(cache_root, cache_key(base_convs, replicas, seed, increments))
    if not os.path.isfile(os.path.join(entry, READY)):
        shutil.rmtree(entry, ignore_errors=True)
        _build(entry, base_convs, replicas, seed, increments)
        open(os.path.join(entry, READY), "w").close()
    os.utime(entry)
    _evict(cache_root)
    with open(os.path.join(entry, "expected.json")) as f:
        expected = json.load(f)
    return Inputs(
        dir=entry,
        n_turns=expected["n_turns"],
        stream_dir=os.path.join(entry, "stream", "transcripts"),
        expected=expected,
    )


def load_pin(inp: Inputs, workload: str) -> dict | None:
    path = os.path.join(inp.dir, f"pinned_{workload}.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def save_pin(inp: Inputs, workload: str, outputs: dict) -> dict:
    """Pin ``outputs`` for this seed; returns them as read back from JSON."""
    path = os.path.join(inp.dir, f"pinned_{workload}.json")
    with open(path + ".tmp", "w") as f:
        json.dump(outputs, f)
    os.replace(path + ".tmp", path)
    return load_pin(inp, workload)


def _evict(cache_root: str) -> None:
    entries = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for stale in entries[KEEP:]:
        shutil.rmtree(stale, ignore_errors=True)
