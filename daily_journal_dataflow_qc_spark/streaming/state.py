"""Keyed per-conversation stream validator (north-star core data structure).

``applyInPandasWithState`` keyed by conv_id, holding O(gaps) state per
conversation regardless of stream length (SURVEY §7.3.8 — never store seen
turn-idx sets at 10^12-turn scale):

* ``hwm``     — monotone turn_idx high-watermark,
* ``missing`` — the EXACT set of indices at/below the watermark never seen
  (turn indices are per-conversation sequence numbers, so genuine drops are
  rare and the set stays tiny; a corrupt index jump is refused via
  MAX_GAP_RUN rather than materialized).

The set is exact rather than a count-min sketch: a sketch saturates on long
conversations and would mislabel legitimate late arrivals as duplicates on
10^9-turn conversations. Labels are exact at any length.

Per arriving turn (processed in (ts, turn_idx) order within the batch):

* turn_idx >  running hwm            -> normal advance (gaps allowed; the
                                        reference tolerates missing
                                        submissions),
* previously seen (<= hwm, not in missing; or an in-batch repeat)
                                     -> DUPLICATE flag (re-delivery),
* novel at/below the running hwm     -> OUT_OF_ORDER flag (late arrival
                                        below the watermark line; reference
                                        logs, never drops silently —
                                        journal_outputs_error_check.py).

Graft of the reference's tracking-file protocol ("previously processed
filename detected as new", mindlamp_accounting.py:196-198) without the
filesystem.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# largest tolerated single-advance of the turn-idx watermark: beyond this
# a gap run is corrupt data
MAX_GAP_RUN = 1_000_000

FLAG_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # duplicate | out_of_order
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("hwm", T.LongType(), False),
        T.StructField("missing", T.ArrayType(T.LongType()), False),
    ]
)


def validate_conv(key, pdf_iter, state: GroupState):
    """Vectorized batch classification (no per-row Python on the hot path).

    Equivalence to the sequential seen-set spec:

    * "previously seen" for the FIRST in-batch occurrence of an idx depends
      only on batch-START state: seen iff idx <= start hwm AND idx not in
      the start missing set (in-batch prior elements are all distinct from
      a first occurrence); every non-first occurrence is a duplicate,
    * advance vs out-of-order for novel elements uses the RUNNING watermark
      (start hwm merged with the in-batch prefix max): a novel idx at/below
      it arrived late,
    * the new missing set is exact set algebra: (start missing ∪ the
      integers the watermark jumped over) minus everything delivered in
      this batch.
    """
    (conv_id,) = key
    if state.exists:
        hwm, missing_list = state.get
        hwm = int(hwm)
        missing = np.array(missing_list, dtype=np.int64)
    else:
        hwm, missing = -1, np.empty(0, dtype=np.int64)

    # a large per-conv micro-batch spans multiple Arrow chunks: concat and
    # sort ONCE so the (ts, turn_idx) processing order is global, not
    # chunk-local (chunk-local sorts can flip duplicate vs out_of_order)
    chunks = [p for p in pdf_iter if len(p)]
    flags: pd.DataFrame | None = None
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["ts", "turn_idx"])
        idx = pdf["turn_idx"].to_numpy(dtype=np.int64)

        running = np.maximum.accumulate(np.concatenate(([hwm], idx)))[:-1]
        first_occ = ~pd.Series(idx).duplicated(keep="first").to_numpy()
        novel = first_occ & ((idx > hwm) | np.isin(idx, missing))
        dup = ~novel
        ooo = novel & (idx <= running)

        new_hwm = int(max(hwm, idx.max()))
        if new_hwm > hwm:
            lo = max(hwm + 1, 1)  # 1-based turn indices (datagen contract)
            if new_hwm - lo > MAX_GAP_RUN:
                raise ValueError(
                    f"turn_idx jumped from hwm={hwm} to {new_hwm} "
                    f"(> MAX_GAP_RUN={MAX_GAP_RUN}): corrupt turn index — "
                    "the missing-gap state tracks one entry per dropped "
                    "turn and refuses unbounded jumps"
                )
            jumped = np.arange(lo, new_hwm + 1, dtype=np.int64)
            missing = np.union1d(missing, jumped)
        missing = np.setdiff1d(missing, idx, assume_unique=False)
        hwm = new_hwm

        flagged = dup | ooo
        if flagged.any():
            flags = pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "turn_idx": idx[flagged].astype(np.int32),
                    "kind": np.where(dup[flagged], "duplicate", "out_of_order"),
                }
            )

    state.update((int(hwm), [int(x) for x in missing]))
    if flags is not None:
        yield flags


def turn_stream_validator(turns: DataFrame) -> DataFrame:
    """Attach the keyed validator to a (streaming or batch-test) turn frame."""
    return turns.groupBy("conv_id").applyInPandasWithState(
        validate_conv,
        outputStructType=FLAG_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
