"""Wall-time decomposition per registry query (round-14 instrument).

The bench's exec metrics (stagemetrics.py) showed most of the sf0.1
suite wall is NOT executor time: the committed r14-start run has
233 s wall against 347 s executor-CPU / 539 s executor-run across 32
cores (~17 s of perfectly-parallel work).  This tool splits each
query's wall into the driver-side phases the exec metrics cannot see:

  build    Python DSL construction (q.fn call, lazy)
  analyze  df.schema — Catalyst analysis of the logical plan
  optimize optimizedPlan materialization (optimizer rules)
  execute  the noop write: physical planning + codegen + AQE replans
           + stage scheduling + executor time

plus, for `execute`, the same-stage executor totals (run_ms/cpu_ms)
so `exec_overhead = execute - run_ms/cores` approximates the
driver/scheduling share of execution.

Usage: python tools/walldecomp.py [names...] [sf_dir]
Writes tools/walldecomp_out.json and prints a sorted summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_up
from market_analyze_data_stream_processing_spark.cache import unpin_all
from market_analyze_data_stream_processing_spark.operators.similarity import (
    invalidate_ivf_index,
)
from market_analyze_data_stream_processing_spark.plans import QUERIES
from market_analyze_data_stream_processing_spark.session import get_spark
from market_analyze_data_stream_processing_spark.stagemetrics import (
    max_stage_id,
    metrics_since,
)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args and os.path.isdir(args[-1]):
        sf_dir = args.pop()
    names = args or list(QUERIES)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("walldecomp")
    spark.sparkContext.setLogLevel("ERROR")

    # Same warmup as bench.py so `execute` measures steady state.
    warm_up(spark, {name: QUERIES[name] for name in names})
    invalidate_ivf_index()

    out: dict[str, dict] = {}
    for name in names:
        q = QUERIES[name]
        floor = max_stage_id(spark)
        try:
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.schema
            t2 = time.perf_counter()
            df._jdf.queryExecution().optimizedPlan()
            t3 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t4 = time.perf_counter()
        except Exception as e:
            print(f"walldecomp error {name}: {e}", file=sys.stderr)
            continue
        m = None if floor is None else metrics_since(spark, floor + 1)
        run_ms = (m or {}).get("run_ms", 0)
        rec = {
            "build": round(t1 - t0, 3),
            "analyze": round(t2 - t1, 3),
            "optimize": round(t3 - t2, 3),
            "execute": round(t4 - t3, 3),
            "wall": round(t4 - t0, 3),
            "run_ms": run_ms,
            "cpu_ms": (m or {}).get("cpu_ms", 0),
            "tasks": (m or {}).get("tasks", 0),
            "stages": (m or {}).get("stages", 0),
            "exec_overhead": round((t4 - t3) - run_ms / 1e3 / cores, 3),
        }
        out[name] = rec
        unpin_all(spark)
        invalidate_ivf_index()

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "walldecomp_out.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)

    tot = {k: round(sum(r[k] for r in out.values()), 1) for k in ("build", "analyze", "optimize", "execute", "wall", "exec_overhead")}
    print("totals:", json.dumps(tot))
    print(f"{'query':34s} {'wall':>6s} {'build':>6s} {'analyz':>6s} {'optim':>6s} {'exec':>6s} {'exOvhd':>6s} {'stages':>6s}")
    for name, r in sorted(out.items(), key=lambda kv: -kv[1]["wall"])[:50]:
        print(
            f"{name:34s} {r['wall']:6.2f} {r['build']:6.2f} {r['analyze']:6.2f} "
            f"{r['optimize']:6.2f} {r['execute']:6.2f} {r['exec_overhead']:6.2f} {r['stages']:6d}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
