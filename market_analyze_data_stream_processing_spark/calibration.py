"""Host-speed calibration probe for the bench protocol.

The bench host is a Firecracker guest with invisible CPU steal that
drifts MONOTONICALLY slower within a session (PERF_r12.md: suite totals
181 -> 201 -> 217 s across one round on near-identical code; median
1.126x on 65 audited-unchanged queries).  Every round's "did we
regress?" question therefore cost a manual stash-A/B forensic pass.

This module ends that: a FIXED synthetic reference workload — constant
row count generated in-memory (``spark.range``), hash + modulo + hash
aggregate, noop sink, zero I/O, zero data dependence — is timed before,
between, and after the timed suite passes.  Its seconds are a pure
host-speed thermometer: the plan never changes, so any change in probe
time is the host, not the code.  ``bench.py`` records the probe
readings in BENCH_rNN.json and reports drift-normalized numbers
(raw * CALIB_REF_SEC / probe) alongside raw, so cross-round and
intra-session comparisons divide the host out.

The probe plan deliberately exercises the same execution machinery the
suite leans on — wholestage codegen, 64-bit hashing, a hash aggregate
with map-side combine, one shuffle — so that steal/thermal effects hit
it the way they hit real queries.

Measured pin-time protocol check (fresh session, 3 stations of 5 reps
after the 3-rep C2 warm): medians 0.725 / 0.671 / 0.767 s — a ±7%
thermometer against the 10-25% intra-session drift it exists to expose.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

#: Fixed probe size: ~0.7 s/rep on this host when C2-hot — long enough
#: to average over scheduler jitter, short enough that 5 reps x 3
#: stations plus the one-time JIT warm add ~15 s to a bench session.
CALIB_ROWS = 80_000_000

#: Pinned reference seconds for ONE probe rep: the median of the three
#: stations (1.148 / 1.357 / 1.304 s) of a solo no-arg bench.py run on
#: a 4-core host (``SPARK_GRAFT_CPUS=4``), the host every committed
#: bench artifact since is measured on. The round-13 pin of 0.59 s was
#: taken on a 32-core host, where the probe's 32-way plan runs wider;
#: against it every 4-core reading carried a ~2.1x core-count factor.
#: The normalization convention is ``normalized = raw * CALIB_REF_SEC /
#: probe_sec``: readings above the pin mean the host was slower than
#: reference and raw times are scaled DOWN.  Cross-round comparisons
#: stay valid as long as this constant is never retuned silently — if
#: the probe plan or size changes, change the constant in the same
#: commit and say so in PERF notes.
CALIB_REF_SEC = 1.304

#: Fixed parquet input for the SCAN probe: constant bytes, read-only.
SCAN_PATH = "/root/testdata/sf0.1/lineitem.parquet"

#: Pinned reference seconds for one SCAN-probe rep (same convention and
#: the same 4-core bench run as CALIB_REF_SEC: the median of its
#: stations 0.528 / 0.529 / 0.669 s; the round-13 pin was 0.48 s on the
#: 32-core host). The scan probe exists because the
#: compute probe is pure in-JVM arithmetic: a host whose parquet/IO or
#: memory-bandwidth path degrades while raw CPU stays nominal reads
#: nominal on the compute probe yet slows every real query — round 13's
#: local bench measured untouched queries 1.19x over the round-12
#: driver artifact while the compute probe sat ON its pin, so one
#: thermometer is provably not enough. Two stations bracket both
#: dimensions.
SCAN_REF_SEC = 0.529

#: Sessions (SparkContext ids) whose probe codegen is already C2-hot.
_WARMED: set[int] = set()
_SCAN_WARMED: set[int] = set()


def _calib_plan(spark, rows: int):
    # Constant-size generated input: no files, no parquet, no Python
    # workers — nothing but JVM compute and one 32-way shuffle.
    return (
        spark.range(0, rows, 1, 32)
        .select(
            (F.col("id") % F.lit(9973)).alias("k"),
            F.xxhash64(F.col("id")).alias("h"),
        )
        .groupBy("k")
        .agg(
            # Bounded summand: the session runs ANSI mode, and a LONG sum
            # of raw xxhash64 values overflows immediately at 2^63-scale
            # addends.  |h % 1e6| * rows stays < 2^46.
            F.sum(F.col("h") % F.lit(1_000_000)).alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.max("h").alias("m"),
        )
    )


def calibration_probe(spark, rows: int = CALIB_ROWS, reps: int = 5) -> float:
    """Return the median seconds of ``reps`` probe executions.

    The first call in a session runs untimed warmups first — one tiny
    run for the janino compile, then three full-size reps so HotSpot's
    C2 tier compiles the hot loop (measured: the first cold readings run
    2-4x slower and noisier than the C2-hot steady state, which would
    masquerade as host drift).  Later calls reuse the hot class, so the
    mid/post stations carry no warm cost.  Median-of-reps so a single
    steal spike cannot masquerade as sustained drift.
    """
    sess = id(spark.sparkContext)
    if sess not in _WARMED:
        _calib_plan(spark, 1_000).write.format("noop").mode("overwrite").save()
        for _ in range(3):
            _calib_plan(spark, rows).write.format("noop").mode("overwrite").save()
        _WARMED.add(sess)
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _calib_plan(spark, rows).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    ts.sort()
    return ts[len(ts) // 2]


def _scan_plan(spark):
    # Fixed parquet scan + wide projection + hash aggregate: exercises
    # the IO/decode/memory-bandwidth path the compute probe cannot see.
    df = spark.read.parquet(SCAN_PATH)
    return df.groupBy((F.col("l_orderkey") % F.lit(97)).alias("k")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.xxhash64(*df.columns) % F.lit(1_000_000)).alias("h"),
    )


def scan_probe(spark, reps: int = 5) -> float:
    """Median seconds of ``reps`` fixed-parquet-scan executions — the
    IO/decode-dimension companion to :func:`calibration_probe` (see
    SCAN_REF_SEC for why both exist). Same warm/median protocol."""
    sess = id(spark.sparkContext)
    if sess not in _SCAN_WARMED:
        for _ in range(2):
            _scan_plan(spark).write.format("noop").mode("overwrite").save()
        _SCAN_WARMED.add(sess)
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _scan_plan(spark).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    ts.sort()
    return ts[len(ts) // 2]
