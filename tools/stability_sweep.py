"""Partition-perturbation reproducibility sweep over the full registry.

The r08 driver red row (`q_embedding_covariance`) was not wrong math —
it was run-order float sensitivity: a result that changes bytes when
the partition layout changes will eventually hash-mismatch a
sequential-fold oracle even though both are "correct". The repo's float
discipline (fixed-grid quantization before any cross-row sum,
`operators/profiling.py`) exists to kill that class; this sweep
ENFORCES it empirically for every registered query.

Each query runs twice on the same session under two adversarially
different layouts:

  A: shuffle.partitions=32, default scan splits        (the tuned shape)
  B: shuffle.partitions=7,  files.maxPartitionBytes=256k, openCostInBytes=0
     (many tiny scan splits, prime shuffle fan-in — maximally different
      accumulation orders for both scans and exchanges)

and the normalized row multisets (verify_local's ``norm_rows``:
full-precision ``repr`` of every float, order-insensitive) must be
IDENTICAL. A query that differs would flake a hash-exact comparison.

Usage: python tools/stability_sweep.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from market_analyze_data_stream_processing_spark.plans import QUERIES
from market_analyze_data_stream_processing_spark.session import get_spark
from verify_local import norm_rows  # tools/ is sys.path[0] for a script

LAYOUTS = {
    "A": {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
    },
    "B": {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.files.maxPartitionBytes": str(256 * 1024),
        "spark.sql.files.openCostInBytes": "0",
    },
}


def run_layout(spark, fn, sf_dir, conf):
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        df = fn(spark, sf_dir)
        return df.columns, df.collect()
    finally:
        for k in conf:
            spark.conf.unset(k)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("stability-sweep")
    base = {
        k: spark.conf.get(k, None) for k in LAYOUTS["A"]
    }

    def drop_checkpoints():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(m.keySet().toArray()):
            m.get(rid).unpersist()

    n_pass = n_fail = 0
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            cols_a, rows_a = run_layout(spark, q.fn, sf_dir, LAYOUTS["A"])
            drop_checkpoints()
            cols_b, rows_b = run_layout(spark, q.fn, sf_dir, LAYOUTS["B"])
            drop_checkpoints()
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        a, b = norm_rows(cols_a, rows_a), norm_rows(cols_b, rows_b)
        # restore any conf the query itself may have touched
        for k, v in base.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))
        if cols_a != cols_b or a != b:
            n_fail += 1
            diff = [
                (ra, rb) for ra, rb in zip(a, b) if ra != rb
            ][:3] if len(a) == len(b) else []
            print(
                f"UNSTABLE {name}: rows {len(a)} vs {len(b)}, "
                f"first diffs: {diff}"
            )
        else:
            n_pass += 1
            print(f"STABLE {name}: {len(a)} rows [{time.time() - t0:.1f}s]")
    print(f"\n{n_pass} stable, {n_fail} unstable/error")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
