"""Per-query executor-side stage metrics, read from the JVM AppStatusStore.

Round 13's calibration probes (calibration.py) proved necessary but not
sufficient: the r13 driver suite ran 1.23x the r12 total while BOTH the
compute and scan probes sat on their pins, so the drift had a dimension
neither thermometer could see and "host vs plan" attribution again cost
a manual diff-audit.  This module ends that: after every timed query,
the bench reads the executor-side totals of exactly that query's stages
— executorCpuTime, executorRunTime, jvmGcTime, input/output bytes,
shuffle read/write bytes, task count — and records them in
BENCH_DETAIL.json.

Attribution then becomes a measurement instead of an inference:

- host steal / scheduler contention: wall time up, CPU time and bytes
  flat (the plan did the same work, it just waited longer);
- plan regression: CPU time and/or bytes up with wall;
- GC pressure: jvmGcTime share up;
- IO-path degradation: wall up with flat CPU on scan-heavy queries
  (cross-check against the scan probe series).

Implementation notes (pinned by tests/test_stagemetrics.py):

- ``AppStatusStore`` is populated regardless of ``spark.ui.enabled``
  (the AppStatusListener always runs; the UI is just one consumer), so
  this works on the bench session, which disables the UI.
- ``stageList`` returns stages NEWEST-FIRST (the KVStore stageId index
  read in reverse).  ``max_stage_id`` is therefore O(1) and
  ``metrics_since`` stops at the first stage below its floor — per-call
  Py4J cost is proportional to the QUERY's stage count, not the
  retained-stage cap.  Both run strictly OUTSIDE the timed window.
- Stage ids are globally monotone within a SparkContext, so
  [floor, now] brackets exactly the jobs the query ran; the snapshot is
  taken immediately after the query completes, while its stages are the
  newest retained entries — eviction (spark.ui.retainedStages, default
  1000) only ever removes OLDER stages first.
- executorCpuTime is NANOseconds; executorRunTime and jvmGcTime are
  milliseconds; all byte fields are bytes (v1.StageData contract).

Every entry point is failure-isolated: a metrics read must never kill
or skew the bench, so callers get ``None`` on any JVM/Py4J error.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: BENCH_DETAIL field order for one query's executor-side totals.
FIELDS = (
    "cpu_ms",
    "run_ms",
    "gc_ms",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "tasks",
    "stages",
    "stages_skipped",
)


def _drain_listener_bus(spark: SparkSession) -> None:
    """Block until the async listener queues have delivered all pending
    events to the AppStatusStore.

    Spark feeds the store through AsyncEventQueues; reading the store
    immediately after an action returns can miss still-queued TaskEnd /
    StageCompleted events — undercounted cpu/bytes, and a stage-id
    floor that folds a query's late events into the NEXT bracket.
    waitUntilEmpty() runs strictly outside the timed window, so the
    drain costs measurement latency, never query wall time.  Failure-
    isolated like everything here: on any Py4J surprise the snapshot
    degrades to best-effort rather than raising."""
    try:
        bus = spark.sparkContext._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty()
        except Exception:
            bus.waitUntilEmpty(10_000)
    except Exception:
        pass


def _stage_seq(spark: SparkSession):
    """The JVM ``Seq[v1.StageData]`` of all retained stages, newest-first.

    The 5-arg form matches Spark 4's
    ``stageList(statuses, details, withSummaries, unsortedQuantiles,
    taskStatus)`` — Scala default args are invisible to Py4J, so every
    parameter is passed explicitly (empty list = all statuses).
    """
    _drain_listener_bus(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    statuses = jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(jvm.double, 0)
    task_statuses = jvm.java.util.ArrayList()
    return store.stageList(statuses, False, False, quantiles, task_statuses)


def max_stage_id(spark: SparkSession) -> int | None:
    """Highest stage id submitted so far (-1 if none); None on error.

    O(1): reads only the first element of the newest-first sequence.
    """
    try:
        seq = _stage_seq(spark)
        if seq.length() == 0:
            return -1
        return seq.apply(0).stageId()
    except Exception:
        return None


def metrics_since(spark: SparkSession, floor: int) -> dict | None:
    """Executor-metric totals over all stages with ``stageId >= floor``.

    Returns a dict with :data:`FIELDS` keys, or None on any error.
    ``stages`` counts executed stages; a SKIPPED stage (a reused shuffle
    output, no task run) is counted under ``stages_skipped`` and adds
    nothing to the other totals.
    """
    try:
        seq = _stage_seq(spark)
        cpu_ns = 0
        run_ms = 0
        gc_ms = 0
        in_b = 0
        out_b = 0
        sr_b = 0
        sw_b = 0
        tasks = 0
        stages = 0
        skipped = 0
        for i in range(seq.length()):
            s = seq.apply(i)
            if s.stageId() < floor:
                break  # newest-first: everything after is older
            if s.status().toString() == "SKIPPED":
                skipped += 1
                continue
            stages += 1
            cpu_ns += s.executorCpuTime()
            run_ms += s.executorRunTime()
            gc_ms += s.jvmGcTime()
            in_b += s.inputBytes()
            out_b += s.outputBytes()
            sr_b += s.shuffleReadBytes()
            sw_b += s.shuffleWriteBytes()
            tasks += s.numCompleteTasks()
        return {
            "cpu_ms": round(cpu_ns / 1e6, 1),
            "run_ms": run_ms,
            "gc_ms": gc_ms,
            "input_bytes": in_b,
            "output_bytes": out_b,
            "shuffle_read_bytes": sr_b,
            "shuffle_write_bytes": sw_b,
            "tasks": tasks,
            "stages": stages,
            "stages_skipped": skipped,
        }
    except Exception:
        return None
