"""Incrementally-maintained compact key store over a growing file directory.

Replaces the "re-read the whole side table every micro-batch" anti-pattern
(O(batches x table) scans) with incremental ingestion: each micro-batch reads
ONLY files not yet ingested (tracked transactionally in the per-batch commit
manifest), projects them to the few columns its consumers need, and appends
them to a compact parquet store. Consumers read the accumulated distinct
rows — far narrower than the full-width source — instead of the source.

The gated QC stream (streaming/job.py) keeps its tool calls here as
``(conv_id, request_key, kind, ts, _batch)``, where ``_batch`` is the id of
the micro-batch that ingested the row. One ``tool_call_lifecycle`` rollup of
the store serves two rules: the returned gate of the transcript sinks and
the pending-return flags (J7), whose "before this batch" side is the rows
with ``_batch`` below the current id.

Exactly-once: ingestion piggybacks on IdempotentBatchSink's atomic per-batch
manifest, so a replayed batch neither re-ingests nor double-counts; files
that appear between crash and replay are picked up by the next live batch.

COMPACTION: one parquet per micro-batch is unbounded — a month of 1-minute
triggers would re-open ~43k small files every batch. Every
``compact_every`` live batches, the store folds all live batch files (plus
the previous compacted store) into ONE sorted, deduplicated parquet,
committed via an atomic compaction manifest that records which batch ids it
supersedes and the union of ingested source files; superseded per-batch
manifests/data are then deleted best-effort (a crash between commit and
cleanup only leaves garbage that the next read ignores). Steady-state open
file count is therefore O(compact_every), and the store itself stays
proportional to the number of DISTINCT keys. At extreme key cardinality,
drop the coalesce(1) and keep the compacted store hash-partitioned instead.

Source-listing transactionality: a source file still being WRITTEN when the
batch fires must not be half-read yet recorded as ingested. The primary
contract is the temp-then-rename write convention (Spark's parquet writers
already commit via rename, so a listed file is complete); for producers that
write in place, ``stability_window_s`` defers files younger than the window
(mtime) to the next batch. The window DEFAULTS TO 0: returned-gating is
evaluated once per diary in the batch where its session closes, so deferring
a return file can permanently exclude a diary from the transcript sinks —
only enable the window for rename-less producers on continuously-triggered
(not availableNow) streams, where the next batch genuinely retries.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.table_format import is_catalog_table, read_table
from .sink import IdempotentBatchSink


class IncrementalKeyStore:
    def __init__(
        self,
        root: str,
        name: str,
        compact_every: int = 16,
        stability_window_s: float = 0.0,
    ):
        self.sink = IdempotentBatchSink(root, name)
        self.compact_every = compact_every
        self.stability_window_s = stability_window_s

    # ------------------------------------------------------------ manifests
    def _load_manifests(self, prefix: str) -> list[dict]:
        out = []
        for m in sorted(os.listdir(self.sink.manifest_dir)):
            if not (m.startswith(prefix) and m.endswith(".json")):
                continue
            try:
                out.append(json.load(open(os.path.join(self.sink.manifest_dir, m))))
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

    def _ingested_files(self) -> set[str]:
        files: set[str] = set()
        comp = self._latest_compaction()
        if comp:
            files.update(comp.get("files", []))
        for m in self._load_manifests("batch-"):
            files.update(m.get("files", []))
        return files

    # ------------------------------------------------------------- ingest
    def _list_parquet(self, src_dir: str) -> list[str]:
        if not os.path.isdir(src_dir):
            return []
        cutoff = time.time() - self.stability_window_s
        out = []
        for f in sorted(os.listdir(src_dir)):
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            p = os.path.join(src_dir, f)
            try:
                if os.path.getmtime(p) <= cutoff:
                    out.append(p)
                # else: possibly still being written — deferred to the next
                # batch (it is NOT recorded as ingested)
            except OSError:
                continue
        return out

    def _latest_hwm(self) -> int | None:
        """Max event-time high-watermark (epoch microseconds) recorded by any
        committed catalog ingestion (batch manifests + the compaction that
        folds them)."""
        hwms = []
        comp = self._latest_compaction()
        if comp and comp.get("hwm") is not None:
            hwms.append(int(comp["hwm"]))
        for m in self._load_manifests("batch-"):
            if m.get("hwm") is not None:
                hwms.append(int(m["hwm"]))
        return max(hwms) if hwms else None

    def ingest(
        self,
        spark: SparkSession,
        src_dir: str,
        batch_id: int,
        schema,
        project,
        ts_col: str = "ts",
        lateness_s: float = 3600.0,
    ) -> None:
        """Ingest rows/files of ``src_dir`` not yet seen; ``project`` maps the
        raw DataFrame to the compact key frame to store. No-op on replayed
        batches — committed manifest OR an id superseded by a compaction
        (compaction deletes per-batch manifests, so a checkpoint replay of a
        covered batch must not re-run under a covered id: its keys would be
        filtered by _live_batches and silently lost; new files are instead
        picked up by the next LIVE batch). Triggers compaction when the
        live batch-file count reaches ``compact_every``.

        ``src_dir`` may also be a CATALOG TABLE (Iceberg on a real cluster):
        there is no file listing to diff, so incrementality switches to an
        event-time high-watermark on ``ts_col`` — each batch reads only rows
        with ``ts > hwm - lateness_s`` (the overlap tolerates bounded-late
        writers; re-ingested keys dedupe at :meth:`read`). On Iceberg the
        production upgrade is an incremental snapshot scan between the last
        and current snapshot ids, which needs no lateness bound; the HWM path
        is the engine-portable equivalent and the filter is pushed down to
        the table scan either way."""
        comp = self._latest_compaction()
        if self.sink.committed(batch_id) or (
            comp and batch_id in set(comp["covers"])
        ):
            return
        if is_catalog_table(src_dir):
            hwm = self._latest_hwm()
            df = read_table(spark, src_dir, schema)
            if hwm is not None:
                cutoff = (hwm - int(lateness_s * 1_000_000)) / 1_000_000.0
                df = df.filter(
                    F.col(ts_col) > F.timestamp_seconds(F.lit(cutoff))
                )
            # 1 scalar to the driver per batch — the new high-watermark
            top = df.agg(F.max(F.unix_micros(F.col(ts_col))).alias("m")).head()
            new_hwm = top["m"] if top and top["m"] is not None else hwm
            keys = project(df).distinct()
            self.sink.write(keys, batch_id, extra={"hwm": new_hwm})
            self._maybe_compact(spark, batch_id)
            return
        ingested = self._ingested_files()
        new = [f for f in self._list_parquet(src_dir) if f not in ingested]
        if new:
            keys = project(spark.read.schema(schema).parquet(*new)).distinct()
        else:
            keys = project(spark.createDataFrame([], schema)).limit(0)
        self.sink.write(keys, batch_id, extra={"files": new})
        self._maybe_compact(spark, batch_id)

    # ---------------------------------------------------------- compaction
    def _maybe_compact(self, spark: SparkSession, batch_id: int) -> None:
        live = self._live_batches()
        if len(live) < self.compact_every:
            return
        comp = self._latest_compaction()
        paths = ([comp["path"]] if comp else []) + [m["path"] for m in live]
        files: set[str] = set(comp.get("files", [])) if comp else set()
        hwms = [int(m["hwm"]) for m in live if m.get("hwm") is not None]
        if comp and comp.get("hwm") is not None:
            hwms.append(int(comp["hwm"]))
        for m in live:
            files.update(m.get("files", []))
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
            "files": sorted(files),
            "hwm": max(hwms) if hwms else None,
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
