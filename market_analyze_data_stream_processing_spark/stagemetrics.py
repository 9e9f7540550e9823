"""Per-query executor-side stage metrics, read from the JVM AppStatusStore.

Round 13's calibration probes (calibration.py) proved necessary but not
sufficient: the r13 driver suite ran 1.23x the r12 total while BOTH the
compute and scan probes sat on their pins, so the drift had a dimension
neither thermometer could see and "host vs plan" attribution again cost
a manual diff-audit.  This module ends that: after every timed query,
the bench reads the executor-side totals of exactly that query's stages
— executorCpuTime, executorRunTime, jvmGcTime, input/output bytes,
shuffle read/write bytes, task count — and records them in
BENCH_DETAIL.json.  Each stage's submission time splits those stages
into the jobs the plan build ran (pins, driver collects) and the ones
the execution ran; its completion time closes the interval the stage
was running, which separates stage time from the driver's gaps.

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
  ``stage_records`` stops at the first stage below its floor — per-call
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


#: The v1.StageData getter behind each executor-side :data:`FIELDS` value.
_GETTERS = {
    "cpu_ms": "executorCpuTime",
    "run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "tasks": "numCompleteTasks",
}


def stage_records(spark: SparkSession, floor: int) -> list[dict] | None:
    """One record per stage with ``stageId >= floor``, newest first;
    None on any error.

    A record holds ``submitted_ms`` and ``completed_ms`` (epoch ms, the
    clock of ``time.time()``; ``inf`` for a SKIPPED stage, which never
    runs) and the :data:`FIELDS` values. ``stages_skipped`` is the
    skipped flag: 1 for a SKIPPED stage (a reused shuffle output, no
    task run), whose other values are all 0, and ``stages`` is 1 for an
    executed one.
    """
    try:
        seq = _stage_seq(spark)
        out = []
        for i in range(seq.length()):
            s = seq.apply(i)
            if s.stageId() < floor:
                break  # newest-first: everything after is older
            skipped = s.status().toString() == "SKIPPED"
            rec = {f: 0 if skipped else getattr(s, g)() for f, g in _GETTERS.items()}
            rec["cpu_ms"] /= 1e6  # the store keeps nanoseconds
            sub, done = s.submissionTime(), s.completionTime()
            rec.update(
                submitted_ms=sub.get().getTime() if sub.isDefined() else float("inf"),
                completed_ms=done.get().getTime() if done.isDefined() else float("inf"),
                stages=int(not skipped),
                stages_skipped=int(skipped),
            )
            out.append(rec)
        return out
    except Exception:
        return None


def totals(records: list[dict]) -> dict:
    """The :data:`FIELDS` sums over ``records`` (all zeros for none)."""
    out = {f: sum(r[f] for r in records) for f in FIELDS}
    out["cpu_ms"] = round(out["cpu_ms"], 1)
    return out
