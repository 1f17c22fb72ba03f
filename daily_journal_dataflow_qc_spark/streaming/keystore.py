"""Append-only, compacting key store of the rows a stream admitted.

Replaces the "re-read the whole side table every micro-batch" anti-pattern
(O(batches x table) scans): each micro-batch appends ONLY the rows its
stream source admitted in that batch, already projected to the few columns
the consumers need, and consumers read the accumulated distinct rows — far
narrower than the full-width source — instead of the source. Admission is
the stream's: the store lists no source files and keeps no watermark of
its own.

The gated QC stream (streaming/job.py) reads its tool calls as the query's
second streaming source and keeps them here as
``(conv_id, request_key, kind, ts, _batch)``, where ``_batch`` is the id of
the micro-batch that admitted the row. One ``tool_call_lifecycle`` rollup
of the store serves two rules: the returned gate of the transcript sinks
and the pending-return flags (J7), whose "before this batch" side is the
rows with ``_batch`` below the current id.

Exactly-once: each append commits through IdempotentBatchSink's atomic
per-batch manifest, so a replayed batch whose manifest is committed is a
no-op, and a replayed batch whose manifest is not re-appends exactly the
rows the stream's offset log assigns to it.

COMPACTION: one parquet per micro-batch is unbounded — a month of 1-minute
triggers would re-open ~43k small files every batch. Every
``compact_every`` live batches, the store folds all live batch files (plus
the previous compacted store) into ONE sorted, deduplicated parquet,
committed via an atomic compaction manifest that records which batch ids it
supersedes; superseded per-batch manifests/data are then deleted
best-effort (a crash between commit and cleanup only leaves garbage that
the next read ignores). Steady-state open file count is therefore
O(compact_every), and the store itself stays proportional to the number of
DISTINCT keys. At extreme key cardinality, drop the coalesce(1) and keep
the compacted store hash-partitioned instead.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .sink import IdempotentBatchSink


class IncrementalKeyStore:
    def __init__(self, root: str, name: str, compact_every: int = 16):
        self.sink = IdempotentBatchSink(root, name)
        self.compact_every = compact_every

    # ------------------------------------------------------------ manifests
    def _load_manifests(self, prefix: str) -> list[dict]:
        out = []
        for m in sorted(os.listdir(self.sink.manifest_dir)):
            if not (m.startswith(prefix) and m.endswith(".json")):
                continue
            try:
                with open(os.path.join(self.sink.manifest_dir, m)) as f:
                    out.append(json.load(f))
            except (json.JSONDecodeError, OSError):
                continue  # uncommitted/truncated manifest: ignored
        return out

    def _latest_compaction(self) -> dict | None:
        comps = self._load_manifests("compaction-")
        if not comps:
            return None
        return max(comps, key=lambda c: c["batch_id"])

    def _live_batches(self) -> list[dict]:
        """Committed per-batch manifests not superseded by the newest
        compaction (each compaction folds in all prior ones)."""
        comp = self._latest_compaction()
        covered = set(comp["covers"]) if comp else set()
        return [
            m for m in self._load_manifests("batch-") if m["batch_id"] not in covered
        ]

    # ------------------------------------------------------------- append
    def append(self, df: DataFrame, batch_id: int) -> None:
        """Commit ``df`` (the rows micro-batch ``batch_id`` admitted) to the
        store. No-op on replayed batches — committed manifest OR an id
        superseded by a compaction (compaction deletes per-batch manifests,
        so a checkpoint replay of a covered batch must not re-run under a
        covered id: its rows would be filtered by _live_batches and
        silently lost). Triggers compaction when the live batch-file count
        reaches ``compact_every``."""
        comp = self._latest_compaction()
        if self.sink.committed(batch_id) or (
            comp and batch_id in set(comp["covers"])
        ):
            return
        self.sink.write(df, batch_id)
        self._maybe_compact(df.sparkSession, batch_id)

    # ---------------------------------------------------------- compaction
    def _maybe_compact(self, spark: SparkSession, batch_id: int) -> None:
        live = self._live_batches()
        if len(live) < self.compact_every:
            return
        comp = self._latest_compaction()
        paths = ([comp["path"]] if comp else []) + [m["path"] for m in live]
        df = spark.read.parquet(*paths).distinct()
        cols = df.columns
        out = os.path.join(self.sink.dir, f"compact_id={batch_id}")
        # one sorted store file: the key set is compact by construction
        df.coalesce(1).sortWithinPartitions(*cols).write.mode("overwrite").parquet(out)
        manifest = {
            "batch_id": batch_id,
            "path": out,
            "covers": sorted(
                ({int(b) for b in comp["covers"]} if comp else set())
                | {int(m["batch_id"]) for m in live}
            ),
        }
        target = os.path.join(self.sink.manifest_dir, f"compaction-{batch_id}.json")
        tmp = target + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, target)  # COMMIT — everything below is cleanup
        for m in live:
            try:
                os.remove(
                    os.path.join(self.sink.manifest_dir, f"batch-{m['batch_id']}.json")
                )
            except OSError:
                pass
            shutil.rmtree(m["path"], ignore_errors=True)
        if comp:
            try:
                os.remove(
                    os.path.join(
                        self.sink.manifest_dir, f"compaction-{comp['batch_id']}.json"
                    )
                )
            except OSError:
                pass
            shutil.rmtree(comp["path"], ignore_errors=True)

    # --------------------------------------------------------------- read
    def read(self, spark: SparkSession) -> DataFrame:
        """Accumulated distinct key set: newest compacted store + live
        batch files."""
        comp = self._latest_compaction()
        paths = ([comp["path"]] if comp else []) + [m["path"] for m in self._live_batches()]
        if not paths:
            raise FileNotFoundError(f"no committed batches in {self.sink.dir}")
        return spark.read.parquet(*paths).distinct()
