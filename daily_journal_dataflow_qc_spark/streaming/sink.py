"""Exactly-once idempotent sink shim (no Iceberg jars in the sandbox).

Semantics modeled on transactional streaming sinks: each micro-batch commits
atomically under a batch-id manifest; replays of an already-committed batch
(after a crash/restart from checkpoint) are no-ops, so the output row set for
a given (input stream, watermark) is exactly-once regardless of failures.

Graft of the reference's per-file commit protocol (TODO+x.txt renamed after
conversion, audio_side.sh:160-175) at micro-batch granularity.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


class IdempotentBatchSink:
    """Parquet-append sink with a per-batch commit manifest."""

    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.manifest_dir = os.path.join(root, f"_manifests_{name}")
        os.makedirs(self.dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    def _manifest(self, batch_id: int) -> str:
        return os.path.join(self.manifest_dir, f"batch-{batch_id}.json")

    def committed(self, batch_id: int) -> bool:
        """True only for a complete, valid manifest: a crash mid-write must
        read as NOT committed so checkpoint replay re-runs the batch."""
        path = self._manifest(batch_id)
        if not os.path.isfile(path):
            return False
        try:
            json.load(open(path))
            return True
        except (json.JSONDecodeError, OSError):
            return False

    def write(self, df: DataFrame, batch_id: int) -> None:
        if self.committed(batch_id):
            return  # replayed batch after restart — exactly-once no-op
        out = os.path.join(self.dir, f"batch_id={batch_id}")
        df.write.mode("overwrite").parquet(out)  # overwrite = idempotent retry
        # atomic commit: write-temp + rename (POSIX atomic) so a crash can
        # never leave a truncated manifest that reads as committed
        tmp = self._manifest(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "path": out}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._manifest(batch_id))

    def read(self, spark) -> DataFrame:
        committed = [
            json.load(open(os.path.join(self.manifest_dir, m)))["path"]
            for m in sorted(os.listdir(self.manifest_dir))
            if m.startswith("batch-") and m.endswith(".json")
        ]
        if not committed:
            raise FileNotFoundError(f"no committed batches in {self.dir}")
        return spark.read.parquet(*committed)
