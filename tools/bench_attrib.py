"""Attribute a cross-run bench delta from executor metrics — the
round-13 VERDICT's ask ("host vs plan on a 20% move stays an inference
from diff-audits rather than a measurement") made mechanical.

Compares two BENCH_DETAIL.json artifacts (written by bench.py since
round 14, with per-query `exec` metrics from stagemetrics.py) and
classifies every query whose wall moved more than the threshold:

- HOST    — the move tracks the host, not the plan: bytes and stage
            structure are flat and CPU-time moved no more than the
            SUITE-MEDIAN CPU ratio (see below). The round-11..13 drift
            class.
- PLAN    — the executed work itself changed: input/shuffle bytes
            moved, or CPU-time moved well BEYOND the suite-median host
            factor. A ranked shortlist to audit, not a verdict (the
            residual tail on identical code is timer noise on small-CPU
            queries and pass-to-pass GC accumulation).
- GC      — the move is concentrated in jvmGcTime (judged against the
            task-summed run time, since both are task-summed): memory
            pressure, not plan shape.
- MIXED   — a work signal (cpu/bytes/stages) moved together with a GC
            signal.

Why CPU is normalized by the suite median: executorCpuTime is THREAD
CPU TIME (time-based, not cycle-based), so host frequency scaling /
steal-with-timer inflates the measured CPU of IDENTICAL plans — the
two round-14 solo runs measured a uniform ~1.2x CPU ratio on unchanged
code. The suite-median CPU ratio is therefore a host factor; only
per-query CPU movement BEYOND it is evidence of a plan change. Bytes
and stage counts are host-invariant, which is what makes them the
stronger plan signals.

Usage:
    python tools/bench_attrib.py OLD_BENCH_DETAIL.json NEW_BENCH_DETAIL.json [wall_thresh=0.25]

Output: one line per classified query plus a suite summary with the
count per class, the wall-delta mass each class carries, and the
suite-median host CPU factor used. Queries missing exec metrics on
either side fall back to `wall-only` (the pre-round-14 situation) and
are listed, not classified.
"""

from __future__ import annotations

import json
import sys


def _rel(a, b):
    return (b - a) / a if a else float("inf") if b else 0.0


def classify(
    old: dict,
    new: dict,
    wall_old: float,
    wall_new: float,
    host_cpu_factor: float = 1.0,
) -> str:
    """Classify one query's move. ``host_cpu_factor`` is the
    suite-median cpu_new/cpu_old ratio (1.0 when unknown): per-query
    CPU is judged as EXCESS over it, so a uniform host-frequency shift
    does not read as 229 simultaneous plan regressions."""
    cpu_excess = (
        _rel(old["cpu_ms"] * host_cpu_factor, new["cpu_ms"])
        if old["cpu_ms"]
        else (float("inf") if new["cpu_ms"] else 0.0)
    )
    bytes_old = old["input_bytes"] + old["shuffle_read_bytes"]
    bytes_new = new["input_bytes"] + new["shuffle_read_bytes"]
    bytes_d = _rel(bytes_old, bytes_new)
    # gc_ms and run_ms are both TASK-SUMMED (a 100 ms wall GC pause
    # overlapping 32 running tasks reports ~3200 task-ms), so GC is
    # judged against the task-summed run-time delta — comparing it to
    # the WALL delta would over-trigger by up to the parallelism factor.
    gc_d_ms = new["gc_ms"] - old["gc_ms"]
    run_d_ms = new["run_ms"] - old["run_ms"]
    signals = []
    # Small-CPU queries have noisier ratios (scheduler/timer
    # granularity dominates sub-second CPU totals), so the excess
    # threshold loosens below 1 s of task CPU. PLAN is a ranked
    # shortlist to audit, not a verdict.
    cpu_thresh = 0.25 if old["cpu_ms"] >= 1000 else 0.6
    if abs(cpu_excess) > cpu_thresh:
        signals.append("cpu")
    if abs(bytes_d) > 0.10:
        signals.append("bytes")
    # stage counts are PRINTED but not a signal: artifacts written
    # before ``stages_skipped`` existed count SKIPPED (exchange-reuse)
    # stages in ``stages``, and their number varies run-to-run under AQE
    # on identical plans — a real plan-shape change moves bytes or cpu
    # too.
    if abs(gc_d_ms) > 0.5 * abs(run_d_ms) and abs(gc_d_ms) > 200:
        signals.append("gc")
    if not signals:
        return "HOST"
    if signals == ["gc"]:
        return "GC"
    # work signals co-moving IS the archetypal plan change (a plan that
    # scans 2x the bytes burns 2x the CPU) — PLAN, not MIXED; MIXED is
    # reserved for work signals combined with a gc signal.
    if "gc" not in signals:
        return "PLAN"
    return "MIXED"


def median_cpu_factor(
    common: list[str], eo: dict, en: dict
) -> float:
    """Suite-median cpu_new/cpu_old over every common query with exec
    metrics on both sides — the host CPU factor."""
    ratios = sorted(
        en[n]["cpu_ms"] / eo[n]["cpu_ms"]
        for n in common
        if eo.get(n) and en.get(n) and eo[n]["cpu_ms"] > 0 and en[n]["cpu_ms"] > 0
    )
    if not ratios:
        return 1.0
    mid = len(ratios) // 2
    return (
        ratios[mid]
        if len(ratios) % 2
        else (ratios[mid - 1] + ratios[mid]) / 2.0
    )


def main() -> None:
    if len(sys.argv) < 3:
        print(__doc__)
        raise SystemExit(2)
    old = json.load(open(sys.argv[1]))
    new = json.load(open(sys.argv[2]))
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 0.25
    qo, qn = old["queries"], new["queries"]
    eo, en = old.get("exec") or {}, new.get("exec") or {}
    common = sorted(set(qo) & set(qn))
    host_cpu = median_cpu_factor(common, eo, en)
    classes: dict[str, list[tuple[str, float, float]]] = {}
    wall_only = []
    for name in common:
        wo, wn = qo[name], qn[name]
        if wo <= 0 or abs(wn - wo) / wo < thresh or abs(wn - wo) < 0.15:
            continue
        mo, mn = eo.get(name), en.get(name)
        if not mo or not mn:
            wall_only.append((name, wo, wn))
            continue
        cls = classify(mo, mn, wo, wn, host_cpu)
        classes.setdefault(cls, []).append((name, wo, wn))
        print(
            f"{cls:5s} {name:28s} wall {wo:6.2f}->{wn:6.2f}  "
            f"cpu_ms {mo['cpu_ms']:9.0f}->{mn['cpu_ms']:9.0f}  "
            f"gc_ms {mo['gc_ms']:5d}->{mn['gc_ms']:5d}  "
            f"in+shuf_mb {(mo['input_bytes'] + mo['shuffle_read_bytes']) / 1e6:8.1f}"
            f"->{(mn['input_bytes'] + mn['shuffle_read_bytes']) / 1e6:8.1f}  "
            f"stages {mo['stages']}->{mn['stages']} "
            f"(skipped {mo.get('stages_skipped', '?')}->{mn.get('stages_skipped', '?')})"
        )
    for name, wo, wn in wall_only:
        print(f"wall-only {name:28s} {wo:6.2f}->{wn:6.2f} (no exec metrics on one side)")
    tot_o = sum(qo[n] for n in common)
    tot_n = sum(qn[n] for n in common)
    if not common or tot_o == 0:
        print("\nno common queries between the two artifacts — nothing to attribute")
        return
    print(
        f"\nsuite (common {len(common)} queries): {tot_o:.1f}s -> {tot_n:.1f}s "
        f"({tot_n / tot_o:.2f}x); median host CPU factor {host_cpu:.3f}"
    )
    for cls, rows in sorted(classes.items()):
        mass = sum(wn - wo for _n, wo, wn in rows)
        print(f"  {cls:5s}: {len(rows):3d} queries, {mass:+.1f}s of wall delta")
    if wall_only:
        mass = sum(wn - wo for _n, wo, wn in wall_only)
        print(f"  wall-only: {len(wall_only)} queries, {mass:+.1f}s (unclassifiable)")


if __name__ == "__main__":
    main()
