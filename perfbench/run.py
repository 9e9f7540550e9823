"""Benchmark entry point.

Run from the root of a checkout::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

Workloads (see each module's docstring): ``analytics`` (registry
queries, closed loop), ``dashboard`` (serving reads and RAG asks over a
backfilled store, closed loop) and ``ingest`` (file source → enrich →
checkpointed keep-last upserts, open loop).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and status-store reads around every operation
and prints the per-layer metrics instead. ``--smoke`` shrinks the
inputs for the benchmark's own tests. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. A detail record (latencies, spans, host facts) is written
under ``perfbench/results/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "market_analyze_data_stream_processing_spark"
WORKLOADS = ("analytics", "dashboard", "ingest")


def _import_package() -> None:
    """Import the package from this checkout and nowhere else."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise SystemExit(f"perfbench: no {PACKAGE}/ in {ROOT}")
    sys.path.insert(0, ROOT)
    import importlib

    mod = importlib.import_module(PACKAGE)
    if not os.path.abspath(mod.__file__).startswith(os.path.join(ROOT, PACKAGE) + os.sep):
        raise SystemExit(f"perfbench: {PACKAGE} resolved outside the checkout")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    p.add_argument("--corrupt-reference", action="store_true",
                   help="perturb every reference; every operation must then fail")
    args = p.parse_args(argv)

    _import_package()
    import harness

    cores = harness.nproc()
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.configure_env(ROOT, work, cores)
    run = harness.Run(
        root=ROOT, work=work, seed=args.seed, seconds=args.seconds, cores=cores,
        smoke=args.smoke, trace=bool(args.trace),
        corrupt_reference=args.corrupt_reference, t_process=T_PROCESS,
    )
    workload = __import__(args.workload)
    spark = None
    try:
        with run.phase("session"):
            spark = harness.start_spark(f"perfbench-{args.workload}", cores)
        if run.trace:
            run.tracer = harness.Tracer(harness.Py4JCounter(spark))
        out = workload.run(run, spark)
        if run.tracer is not None:
            run.tracer.py4j.remove()
        facts = harness.host_facts(spark, ROOT, args.seed)
        probes = harness.calibration_readings(spark, out["lineitem"])
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    latencies = out["latencies"]
    attempted = out.get("attempted", len(latencies))
    rss_mb = run.rss.peak_mb
    values, st = harness.end_to_end(run.setup_s, latencies, run.timed_s, run.cpu_s, rss_mb)
    if run.trace:
        lay = run.layers
        lay.set("host.calib_s", probes["calib_s"])
        lay.set("host.scan_s", probes["scan_s"])
        lay.set("trace.latency_p50_s", st["p50"])
        metrics, units = lay.values(len(latencies), out.get("per", {})), harness.PER_LAYER
    else:
        metrics, units = values, harness.END_TO_END

    detail = {
        "workload": args.workload, "trace": args.trace, "seconds": args.seconds,
        "host": {**facts, **probes},
        "end_to_end": values, "latency": st,
        "setup_phases": {k: v for k, v in run.layers.fixed.items() if k.startswith("setup.")},
        "rss_mb_at_peak": run.rss.at_peak,
        "per_layer": metrics if run.trace else None,
        "span_sum_ratio": run.span_sum_ratio,
        "attempted": attempted, "failed": out["failed"],
        "ops": out.get("ops"), "latencies": latencies,
        "detail": out.get("detail"),
        "spans": run.tracer.dump() if run.tracer else None,
    }
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(detail, f, indent=1, default=str)

    print(f"host: {json.dumps(detail['host'])}")
    print(f"latency_tail_s = {st['tail']:.4f} s at p{st['tail_pct']} of {st['n']} ops; "
          f"latency_p50_s = {st['p50']:.4f} s")
    if run.span_sum_ratio is not None:
        print(f"layer spans / operation latency = {run.span_sum_ratio:.4f}")
    harness.emit(metrics, units, attempted, out["failed"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
