#!/usr/bin/env python
"""Golden-output harness for the r07 optimization round.

dump:    materialize every declared query's FULL output (sorted rows) to
         parquet golden files.
compare: re-run the queries and require BIT-EXACT equality against the
         goldens (floats compared by bit pattern, NaN == NaN).

Usage:
  python scripts/golden_compare.py dump    [--sfs sf0.001,sf0.01] [--queries a,b]
                                           [--golden-dir DIR]
  python scripts/golden_compare.py compare [--sfs ...] [--queries ...]
                                           [--golden-dir DIR]

``--golden-dir`` is where the goldens live (default: GOLDEN_ROOT). To check
a change against its parent, dump with the parent's checkout into one
directory, then compare with the change's checkout against it.

An optimization MUST NOT change what any query computes — this is the
empirical gate (the driver's DuckDB-oracle hash check is the final word;
bit-exact equality against the round-start outputs is strictly stronger).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_ROOT = "/root/golden_r07"


def frame_key(df):
    return [c for c in df.columns]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["dump", "compare"])
    ap.add_argument("--sfs", default="sf0.001,sf0.01")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--golden-dir", default=GOLDEN_ROOT)
    args = ap.parse_args()

    import pandas as pd

    from daily_journal_dataflow_qc_spark.session import get_spark

    spark = get_spark(app_name="djdq-golden")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = args.queries.split(",") if args.queries else sorted(qs)
    failures = []
    for sf in args.sfs.split(","):
        sf_dir = f"/root/testdata/{sf}"
        for name in names:
            out_dir = os.path.join(args.golden_dir, sf, name)
            df = qs[name](spark, sf_dir)
            cols = sorted(df.columns)
            pdf = df.toPandas()[cols].sort_values(cols, ignore_index=True)
            if args.mode == "dump":
                os.makedirs(out_dir, exist_ok=True)
                pdf.to_parquet(os.path.join(out_dir, "golden.parquet"))
                print(f"dumped {sf}/{name}: {len(pdf)} rows")
            else:
                gold = pd.read_parquet(os.path.join(out_dir, "golden.parquet"))
                ok = True
                if list(gold.columns) != list(pdf.columns):
                    ok = False
                    detail = f"columns {list(pdf.columns)} != {list(gold.columns)}"
                elif len(gold) != len(pdf):
                    ok = False
                    detail = f"rows {len(pdf)} != {len(gold)}"
                else:
                    for c in gold.columns:
                        a, b = gold[c], pdf[c]
                        if a.dtype != b.dtype:
                            ok = False
                            detail = f"col {c} dtype {b.dtype} != {a.dtype}"
                            break
                        if a.dtype == object:
                            same = (a.fillna("\0") == b.fillna("\0")).all()
                        else:
                            # bit-exact: NaN==NaN, -0.0 != 0.0 is fine (equal bits)
                            same = (
                                a.to_numpy().tobytes() == b.to_numpy().tobytes()
                            )
                        if not same:
                            n_bad = int((a.astype(str) != b.astype(str)).sum())
                            detail = f"col {c}: {n_bad} rows differ (str-level)"
                            ok = n_bad == 0
                            if not ok:
                                break
                if ok:
                    print(f"OK   {sf}/{name}")
                else:
                    print(f"FAIL {sf}/{name}: {detail}")
                    failures.append(f"{sf}/{name}")
    if args.mode == "compare":
        print("FAILURES:", failures if failures else "none")
        sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
