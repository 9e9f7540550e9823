"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with a noop datasource write (full plan
execution, no driver collect bottleneck) — the same way you'd measure a
production job.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from market_analyze_data_stream_processing_spark.cache import unpin_all
from market_analyze_data_stream_processing_spark.calibration import (
    CALIB_REF_SEC,
    SCAN_REF_SEC,
    calibration_probe,
    scan_probe,
)
from market_analyze_data_stream_processing_spark.operators.similarity import (
    invalidate_ivf_index,
)
from market_analyze_data_stream_processing_spark.plans import QUERIES
from market_analyze_data_stream_processing_spark.session import get_spark
from market_analyze_data_stream_processing_spark.stagemetrics import (
    max_stage_id,
    metrics_since,
)


def run_one(spark, q, sf_dir: str) -> tuple[float, dict | None]:
    """One end-to-end execution: (wall seconds, executor stage metrics).

    The metrics snapshot (stagemetrics.py) brackets exactly this
    query's stages by stage-id floor and runs strictly OUTSIDE the
    timed window; it returns None instead of raising, so the metric
    read can never fail or skew the measurement.
    """
    floor = max_stage_id(spark)
    t0 = time.perf_counter()
    df = q.fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    exec_m = None if floor is None else metrics_since(spark, floor + 1)
    # The pins a query leaves (its result's localCheckpoint blocks)
    # accumulate across a session into GC pressure that skews later
    # measurements. Drop them once they're timed.
    unpin_all(spark)
    # The IVF index cache is a DRIVER-side dict, untouched by the RDD
    # unpersist above; left alone it would survive into the second timed
    # pass and q_ann_ivf's min-of-two would measure a cache hit, not a
    # complete execution (build-once is the production serving shape,
    # but this bench promises full end-to-end plans).
    invalidate_ivf_index()
    return elapsed, exec_m


def warm_up(spark, queries: dict) -> None:
    """Start the Python worker pool and compile every plan of
    ``queries`` once at sf0.001, so timed runs measure steady state.

    The first Arrow-batched stage of a session spawns the worker pool;
    without the warmup, whichever pandas-backed query runs first absorbs
    that cost. Generated whole-stage-codegen classes are cached by plan
    structure, which is identical across SFs (only the input path
    differs), so one cheap sf0.001 pass compiles every plan: the timed
    pass then measures steady-state latency (the number that matters on
    a long-running cluster, where per-plan JIT amortizes to zero)
    instead of charging each query its own one-time janino compile.
    A warmup failure is the timed pass's error to report, so it is
    ignored here."""
    import pandas as _pd  # noqa: F401

    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    for q in queries.values():
        try:
            q.fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
        except Exception:
            pass
        unpin_all(spark)


def probe_safe(fn, spark) -> float | None:
    """Run a calibration station; a probe failure (missing corpus,
    probe bug) must degrade the bench to raw-only numbers, never abort
    it — per-query failures are deliberately non-fatal and the probes
    hold themselves to the same bar."""
    try:
        return round(fn(spark), 3)
    except Exception as e:
        print(f"bench probe error: {e}", file=sys.stderr)
        return None


def select_queries(argv: list[str]) -> dict:
    """Round-15: an OPT-IN subset mode for decade benching — the r14
    scaling block proved sf0.1 suite walls are ~80% driver stage-floor
    (8-core total ≈ 32-core total), so at-scale optimization decisions
    need the same harness pointed at a bigger corpus. ``--top N`` times
    the N most expensive queries of the last committed full-suite run
    (BENCH_DETAIL.json, normalized seconds) with the IDENTICAL protocol:
    sf0.001 whole-suite-subset JIT warmup, two timed passes, per-query
    min, noop sink, per-query unpersist + IVF invalidation, calibration
    stations. ``--queries a,b,c`` names them explicitly. With no args —
    the driver's invocation — behavior is byte-identical to round 14:
    every registered query, detail to BENCH_DETAIL.json."""
    def flag_value(flag: str) -> str:
        i = argv.index(flag)
        if i + 1 >= len(argv):
            raise SystemExit(f"usage: bench.py [{flag} <value>]")
        return argv[i + 1]

    if "--queries" in argv:
        names = flag_value("--queries").split(",")
        missing = [n for n in names if n not in QUERIES]
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        return {n: QUERIES[n] for n in names}
    if "--top" in argv:
        n = int(flag_value("--top"))
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        )
        with open(detail_path) as f:
            detail = json.load(f)
        ranked = sorted(
            (detail.get("queries_norm") or detail["queries"]).items(),
            key=lambda kv: -kv[1],
        )
        # Filter stale names BEFORE slicing, so a rename in the registry
        # costs no slot. Queries registered after the detail was written
        # are not ranked at all: say so, and say when fewer than N remain.
        live = [name for name, _ in ranked if name in QUERIES]
        unranked = len(QUERIES) - len(live)
        if len(live) < n or unranked:
            print(
                f"bench.py --top {n}: timing {min(n, len(live))} queries; "
                f"{unranked} registered queries are not ranked in {detail_path}",
                file=sys.stderr,
            )
        return {name: QUERIES[name] for name in live[:n]}
    return dict(QUERIES)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    queries = select_queries(sys.argv[1:])
    subset = len(queries) < len(QUERIES)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark, queries)

    # Two full timed passes, min per query. On this host (Firecracker
    # guest) CPU steal is invisible and routinely adds 2-20 s spikes to
    # individual queries; the per-query MINIMUM of two identical full
    # executions is the standard noise-robust estimator of steady-state
    # latency. Every pass executes every plan end-to-end — nothing is
    # cached between passes (checkpoint blocks are dropped after each
    # query), so the minimum is a real, complete execution.
    # Calibration stations (round-13): a fixed synthetic probe
    # (calibration.py) is timed before pass 1, between the passes, and
    # after pass 2.  The host drifts monotonically slower within a
    # session (PERF_r12.md), so each pass gets its own host-speed
    # factor — the mean of the stations bracketing it, over the pinned
    # CALIB_REF_SEC — and each query's reported minimum is normalized
    # by the factor of the pass it was measured in.  `value_norm` is
    # what cross-round comparisons should use; `value` stays the raw
    # wall total for continuity with rounds 1-12.
    # Two thermometers per station (calibration.py): `calib` is the
    # pure-compute probe (CPU/steal dimension, used for normalization),
    # `scan` is a fixed-parquet-scan probe (IO/decode/memory-bandwidth
    # dimension, recorded for diagnosis — round 13 measured untouched
    # queries 1.19x over the prior round's artifact while the compute
    # probe sat on its pin, so a single CPU thermometer provably cannot
    # explain every drift).
    times: dict[str, float] = {}
    from_pass: dict[str, int] = {}
    # Executor-side stage metrics (stagemetrics.py) for the SAME
    # execution the kept minimum came from — so wall and CPU/bytes in
    # BENCH_DETAIL always describe one execution, never a mix.
    exec_detail: dict[str, dict | None] = {}
    errored: list[str] = []
    calib: list[float | None] = [probe_safe(calibration_probe, spark)]
    scan: list[float | None] = [probe_safe(scan_probe, spark)]
    for _pass in range(2):
        for name, q in queries.items():
            if name in errored:
                continue
            try:
                t, exec_m = run_one(spark, q, sf_dir)
                t = round(t, 3)
                if name not in times or t < times[name]:
                    times[name] = t
                    from_pass[name] = _pass
                    exec_detail[name] = exec_m
            except Exception as e:  # a failing query is listed, never kills bench
                print(f"bench error {name}: {e}", file=sys.stderr)
                times.pop(name, None)
                exec_detail.pop(name, None)
                errored.append(name)
        calib.append(probe_safe(calibration_probe, spark))
        scan.append(probe_safe(scan_probe, spark))
    # A pass whose bracketing stations are incomplete gets factor 1.0
    # (raw-only): normalization silently degrades, never crashes.
    pass_factor = [
        (calib[p] + calib[p + 1]) / 2.0 / CALIB_REF_SEC
        if calib[p] is not None and calib[p + 1] is not None
        else 1.0
        for p in range(2)
    ]
    times_norm = {
        name: round(t / pass_factor[from_pass[name]], 3)
        for name, t in times.items()
    }
    total_norm = round(sum(times_norm.values()), 3)
    # `queries` holds only real durations (no -1 sentinels polluting sums
    # or cross-round comparisons); failures are the separate `errored`
    # list plus `n_errored`, so the JSON is self-describing.
    total = round(sum(times.values()), 3)
    # Suite-level executor totals ride the stdout line too (a few dozen
    # chars): even when only the driver's truncated artifact survives a
    # round, the CPU/GC/bytes aggregates let bench_attrib-style host-vs-
    # plan reasoning start without BENCH_DETAIL.
    with_exec = [m for m in exec_detail.values() if m]
    exec_totals = {
        "cpu_s": round(sum(m["cpu_ms"] for m in with_exec) / 1e3, 1),
        "run_s": round(sum(m["run_ms"] for m in with_exec) / 1e3, 1),
        "gc_s": round(sum(m["gc_ms"] for m in with_exec) / 1e3, 1),
        "in_gb": round(sum(m["input_bytes"] for m in with_exec) / 1e9, 2),
        "sr_gb": round(sum(m["shuffle_read_bytes"] for m in with_exec) / 1e9, 2),
        "n": len(with_exec),
    }
    # Full-precision detail goes to a side file; the stdout line must stay
    # SHORT (driver captures only a bounded tail of stdout — round 1's
    # 3.7k-char line was truncated mid-line and failed to parse).
    # Subset runs (--top/--queries) write a SEPARATE detail file so the
    # committed full-suite artifact is never clobbered by a decade probe.
    detail_name = "BENCH_DETAIL_SUBSET.json" if subset else "BENCH_DETAIL.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name), "w") as f:
        json.dump(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": times,
                "queries_norm": times_norm,
                # Per-query executor totals (cpu_ms/run_ms/gc_ms/
                # input/output/shuffle bytes/tasks/stages) for the kept
                # execution: host steal reads as wall >> run/cpu with
                # flat bytes; a plan regression moves cpu and/or bytes.
                "exec": exec_detail,
                "exec_totals": exec_totals,
                "calib": {
                    "pre": calib[0],
                    "mid": calib[1],
                    "post": calib[2],
                    "ref": CALIB_REF_SEC,
                    "pass_factor": [round(x, 4) for x in pass_factor],
                    "scan_pre": scan[0],
                    "scan_mid": scan[1],
                    "scan_post": scan[2],
                    "scan_ref": SCAN_REF_SEC,
                },
                "value_norm": total_norm,
                "n_queries": len(times),
                "n_errored": len(errored),
                "errored": errored,
                "sf": sf,
                **({"subset_of": len(QUERIES)} if subset else {}),
            },
            f,
            indent=1,
        )
    # The driver captures only the LAST 2000 chars of stdout (both r01 and
    # r02 artifacts show a 2000-char tail with the JSON line head-truncated
    # and "parsed": null).  Keep the line safely under that window by
    # dropping the FASTEST queries first — but keep the line
    # SELF-CONTAINED: `others_sec` carries the exact summed time of every
    # dropped query and `n_queries` the full count, so value == sum(queries
    # values) + others_sec always holds without consulting BENCH_DETAIL.
    # `ok` makes failures explicit: a query that starts erroring cannot
    # silently improve the headline number (it flips ok to false).
    MAX_LINE = 1800
    keep = dict(sorted(times.items(), key=lambda kv: -kv[1]))

    def make_line() -> str:
        return json.dumps(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "value_norm": total_norm,
                "calib": {
                    "pre": calib[0],
                    "mid": calib[1],
                    "post": calib[2],
                    "ref": CALIB_REF_SEC,
                    "scan": scan,
                    "scan_ref": SCAN_REF_SEC,
                },
                "ok": not errored,
                "exec_totals": exec_totals,
                # others_sec is computed from the ROUNDED kept values so
                # the advertised identity value == sum(queries) +
                # others_sec holds exactly on the printed line.
                "queries": {k: round(v, 2) for k, v in keep.items()},
                "others_sec": round(total - sum(round(v, 2) for v in keep.values()), 3),
                "n_queries": len(times),
                "n_errored": len(errored),
                "errored": errored,
                "sf": sf,
                **({"subset_of": len(QUERIES)} if subset else {}),
            },
            separators=(",", ":"),
        )

    line = make_line()
    while len(line) > MAX_LINE and keep:
        keep.popitem()
        line = make_line()
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
