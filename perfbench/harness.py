"""Measurement plumbing shared by the workloads.

- :class:`ProcTree` reads user+sys CPU and the resident set of this
  process and all its descendants (the Spark JVM and its Python
  workers) from ``/proc``; :class:`RssSampler` keeps the tree's peak.
- :func:`latency_stats` turns per-operation latencies into the median
  and the tail: the highest percentile that still has at least ten
  samples above it.
- :class:`Tracer` keeps spans and counters in memory for the traced
  run; :class:`Py4JCounter` counts gateway round trips.
- :func:`stage_records`, :func:`python_metrics` and
  :func:`plan_python_metrics` read Spark's status stores (stages, SQL
  executions) and plan metrics after an operation, outside its timed
  window; stage accounting splits executed from skipped stages.
- :func:`start_spark` / :func:`stop_spark` own the session lifetime:
  every scratch path Spark, the JVM and Python write to is kept under
  the benchmark's work directory, and the JVM is waited for on exit.
"""

from __future__ import annotations

import json
import os
import platform
import re
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Minimum number of samples above the tail percentile.
TAIL_BEYOND = 10


class BenchError(RuntimeError):
    """A run that cannot produce a valid result (exit without a result)."""


# ---------------------------------------------------------------------------
# Process tree: CPU and memory from /proc
# ---------------------------------------------------------------------------


class ProcTree:
    """CPU seconds and resident set of the process tree rooted at ``root``."""

    def __init__(self, root: int | None = None) -> None:
        self.root = os.getpid() if root is None else root
        self.tick = os.sysconf("SC_CLK_TCK")

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # comm may contain spaces and parentheses: split after the last ')'
            fields = stat[stat.rindex(")") + 2:].split()
            parent[int(name)] = int(fields[1])
        tree, frontier = {self.root}, [self.root]
        while frontier:
            p = frontier.pop()
            for child, pp in parent.items():
                if pp == p and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        return sorted(tree)

    def cpu_s(self) -> float:
        """User+sys CPU of every live process in the tree, including the
        children each has already reaped."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in fields[11:15])
        return total / self.tick

    def peak_rss_by_process(self, min_age_s: float = 0.5) -> dict[str, float]:
        """Peak resident set (MB, ``VmHWM``) of each process in the tree
        that has lived at least ``min_age_s``, keyed by ``pid:name``. A
        child caught between fork and exec still maps its parent's
        memory (the JVM's, when it spawns a Python daemon or worker) and
        would count that twice; such a child is younger than the age
        floor."""
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        out = {}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{pid}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            # starttime (clock ticks after boot) is field 22 (1-based)
            started = int(stat[stat.rindex(")") + 2:].split()[19]) / self.tick
            if uptime - started < min_age_s:
                continue
            if "VmHWM" in fields:
                out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
        return out


class RssSampler:
    """Peak resident memory of the process tree: the largest sum, over
    samples taken every ``interval`` seconds by a background thread, of
    the peak resident sets of the processes alive at that sample. Python
    workers come and go, so one reading at the end would count only
    whichever happened to be alive; per-process peaks keep a short JVM
    high between two samples from being missed."""

    def __init__(self, tree: ProcTree, interval: float = 0.2) -> None:
        self.tree, self.interval = tree, interval
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        now = self.tree.peak_rss_by_process()
        total = sum(now.values())
        if total > self.peak_mb:
            self.peak_mb, self.at_peak = total, now

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# ---------------------------------------------------------------------------
# Latency statistics
# ---------------------------------------------------------------------------


def tail_index(n: int) -> int:
    """0-based rank of the highest sample with ``TAIL_BEYOND`` samples
    above it; the run must hold more than ``TAIL_BEYOND`` samples."""
    if n <= TAIL_BEYOND:
        raise BenchError(f"{n} samples: the tail needs more than {TAIL_BEYOND}")
    return n - TAIL_BEYOND - 1


def latency_stats(latencies: list[float]) -> dict:
    s = sorted(latencies)
    i = tail_index(len(s))
    return {
        "p50": statistics.median(s),
        "tail": s[i],
        "tail_pct": round(100.0 * (i + 1) / len(s), 1),
        "n": len(s),
    }


# ---------------------------------------------------------------------------
# Tracing (traced run only)
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    parent: str | None
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans and per-span counters, kept in memory and written out once
    at the end of the run. ``op`` groups the spans of one operation."""

    def __init__(self, py4j: "Py4JCounter | None" = None) -> None:
        self.spans: list[Span] = []
        self.py4j = py4j
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op: int):
        calls0 = self.py4j.calls if self.py4j else 0
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            sp = Span(name, op, t0, t1, parent)
            if self.py4j:
                sp.counts["py4j_calls"] = self.py4j.calls - calls0
            self.spans.append(sp)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def total_op(self, name: str, op: int) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name and s.op == op)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "start": s.start, "end": s.end,
             "parent": s.parent, **s.counts}
            for s in self.spans
        ]


class Py4JCounter:
    """Counts Py4J round trips by wrapping the gateway client's
    ``send_command`` on this process's client object. Installed only
    for the traced run; :meth:`remove` restores the original."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        original = self.client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return original(*args, **kwargs)

        self.client.send_command = counted

    def remove(self) -> None:
        # the wrapper lives in the instance dict; deleting it re-exposes
        # the class method
        self.client.__dict__.pop("send_command", None)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------


def _drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _stage_seq(spark):
    sc = spark.sparkContext
    jvm = sc._jvm
    return sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )


def max_stage_id(spark) -> int:
    _drain_listener_bus(spark)
    seq = _stage_seq(spark)
    return seq.apply(0).stageId() if seq.length() else -1


def stage_records(spark, floor: int) -> list[dict]:
    """One record per stage with ``stageId > floor``. Executed
    (COMPLETE/FAILED) and SKIPPED stages are told apart: a skipped stage
    reused an earlier shuffle output and ran no task."""
    _drain_listener_bus(spark)
    seq = _stage_seq(spark)
    out = []
    for i in range(seq.length()):
        s = seq.apply(i)
        if s.stageId() <= floor:
            break  # newest first
        sub = s.submissionTime()
        out.append({
            "skipped": s.status().toString() == "SKIPPED",
            "submitted_ms": sub.get().getTime() if sub.isDefined() else float("inf"),
            "tasks": s.numCompleteTasks(),
            "cpu_s": s.executorCpuTime() / 1e9,
            "run_s": s.executorRunTime() / 1e3,
            "gc_s": s.jvmGcTime() / 1e3,
            "input_mb": s.inputBytes() / 2**20,
            "shuffle_read_mb": s.shuffleReadBytes() / 2**20,
            "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
            "output_mb": s.outputBytes() / 2**20,
        })
    return out


#: Stage totals, keyed by their per-layer metric names.
_STAGE_LAYERS = {
    "tasks": "engine.tasks",
    "cpu_s": "executor.cpu_s",
    "run_s": "executor.run_s",
    "gc_s": "executor.gc_s",
    "input_mb": "scan.input_mb",
    "shuffle_read_mb": "shuffle.read_mb",
    "shuffle_write_mb": "shuffle.write_mb",
    "output_mb": "write.output_mb",
}


def run_s(records) -> float:
    """Executor run time summed over stage records."""
    return sum(r["run_s"] for r in records)


def add_stages(layers: "Layers", records: list[dict]) -> None:
    for r in records:
        if r["skipped"]:
            layers.add("engine.stages_skipped", 1)
            continue
        layers.add("engine.stages_run", 1)
        for k, name in _STAGE_LAYERS.items():
            layers.add(name, r[k])


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def max_execution_id(spark) -> int:
    _drain_listener_bus(spark)
    store = _sql_store(spark)
    n = store.executionsCount()
    if n == 0:
        return -1
    seq = store.executionsList(n - 1, 1)
    return seq.apply(0).executionId() if seq.length() else -1


#: Spark's default ``spark.sql.ui.retainedExecutions``.
RETAINED_EXECUTIONS = 1000

_UNITS = {"B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)\b")

#: Spark's PythonSQLMetrics descriptions, mapped to benchmark fields.
_PY_METRICS = {
    "data sent to Python workers": "arrow.python_mb",
    "data returned from Python workers": "arrow.python_mb",
    "time to run Python workers": "arrow.python_s",
    "time to start Python workers": "arrow.boot_s",
    "time to initialize Python workers": "arrow.boot_s",
}


def _metric_total(text: str) -> float:
    """The total of one formatted SQL metric: either ``"1.2 MiB"`` or
    ``"total (min, med, max …)\\n1.2 MiB (…)"``."""
    line = text.split("\n")[-1]
    m = _VALUE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def python_metrics(spark, exec_floor: int) -> dict:
    """Arrow-seam totals (MB sent+received, worker run time, boot+init
    time) over SQL executions with id > ``exec_floor``."""
    _drain_listener_bus(spark)
    store = _sql_store(spark)
    out = {"arrow.python_mb": 0.0, "arrow.python_s": 0.0, "arrow.boot_s": 0.0}
    n = store.executionsCount()
    # executions are listed in id order; the newest ones are at the end
    seq = store.executionsList(max(0, n - RETAINED_EXECUTIONS), RETAINED_EXECUTIONS)
    for i in range(seq.length() - 1, -1, -1):
        ex = seq.apply(i)
        eid = ex.executionId()
        if eid <= exec_floor:
            break
        wanted = {}
        metrics = ex.metrics()
        for j in range(metrics.length()):
            m = metrics.apply(j)
            key = _PY_METRICS.get(m.name())
            if key:
                wanted[m.accumulatorId()] = key
        if not wanted:
            continue
        values = store.executionMetrics(eid)
        for acc, key in wanted.items():
            v = values.get(acc)
            if v.isDefined():
                out[key] += _metric_total(v.get())
    return out


#: SQLMetric keys of the Arrow evaluation nodes, mapped to benchmark fields.
_PY_PLAN_METRICS = {
    "pythonDataSent": "arrow.python_mb", "pythonDataReceived": "arrow.python_mb",
    "pythonTotalTime": "arrow.python_s", "pythonBootTime": "arrow.boot_s",
    "pythonInitTime": "arrow.boot_s",
}
_METRIC_SCALE = {"size": 1 / 2**20, "timing": 1e-3, "nsTiming": 1e-9}


def plan_python_metrics(plan) -> dict:
    """Arrow-seam totals read from the live SQLMetrics of a physical
    plan. A ``foreachBatch`` sink runs its batch over an RDD of the
    micro-batch plan, so the SQL status store attributes those task
    metrics to no execution; the plan's own metric objects still hold
    them."""
    out = {"arrow.python_mb": 0.0, "arrow.python_s": 0.0, "arrow.boot_s": 0.0}
    stack = [plan]
    while stack:
        node = stack.pop()
        metrics = node.metrics()
        for key, name in _PY_PLAN_METRICS.items():
            m = metrics.get(key)
            if m.isDefined():
                out[name] += m.get().value() * _METRIC_SCALE.get(m.get().metricType(), 1.0)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.length()))
    return out


# ---------------------------------------------------------------------------
# Session lifetime
# ---------------------------------------------------------------------------


#: Driver (and, in local mode, executor) heap. A fixed, modest heap keeps
#: the resident set of the JVM close to the same size in every run.
DRIVER_MEM = "1g"


def configure_env(root: str, work: str, cores: int) -> None:
    """Point every scratch path at ``work`` before the JVM starts, and
    make the checkout's package importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def start_spark(app: str, cores: int):
    """``session.get_spark`` at ``local[cores]``; refuses to run when
    Spark's core count differs from the requested one."""
    from market_analyze_data_stream_processing_spark import session

    spark = session.get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    if sc.master != f"local[{cores}]" or sc.defaultParallelism != cores:
        stop_spark(spark)
        raise BenchError(
            f"Spark runs {sc.master} with {sc.defaultParallelism} cores; "
            f"{cores} were requested"
        )
    # Workers import the package from PYTHONPATH (configure_env), so the
    # package zip ensure_pyfiles would write outside the checkout is not
    # needed: mark this context as already shipped.
    session._PYFILES_SHIPPED.add(id(sc))
    return spark


def stop_spark(spark) -> None:
    """Stop the context and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def drop_persisted(spark) -> None:
    """Unpersist every RDD a query pinned (``localCheckpoint`` blocks),
    as ``bench.py run_one`` does after each query."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(m.keySet().toArray()):
        m.get(rid).unpersist()


# ---------------------------------------------------------------------------
# Host facts and calibration probes
# ---------------------------------------------------------------------------


def git_commit(root: str) -> str:
    """HEAD of the checkout, read from ``.git`` without running git;
    ``unknown`` outside a git working tree."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def calibration_readings(spark, lineitem_path: str) -> dict:
    """The package's two calibration probes, recorded and never applied.
    Both run at a reduced size (the pins date from a 32-core host and
    are not comparable anyway); the scan probe reads the benchmark's
    own lineitem copy instead of the fixed corpus path."""
    from market_analyze_data_stream_processing_spark import calibration

    calib_rows = calibration.CALIB_ROWS // 40
    calib = calibration.calibration_probe(spark, rows=calib_rows, reps=3)
    calibration.SCAN_PATH = lineitem_path
    scan = calibration.scan_probe(spark, reps=3)
    return {"calib_s": calib, "calib_rows": calib_rows, "scan_s": scan,
            "scan_path": os.path.basename(lineitem_path)}


def probe_lineitem(work: str, seed: int) -> str:
    """A small seeded lineitem table for the scan calibration probe."""
    import pyarrow.parquet as pq

    import datagen

    path = os.path.join(work, "probe", "lineitem.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(datagen.registry_tables(seed, datagen.SCALE_TINY)["lineitem"], path)
    return path


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints): Spark runs
    as ``local[nproc()]``."""
    return len(os.sched_getaffinity(0))


def host_facts(spark, root: str, seed: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "spark_cores": spark.sparkContext.defaultParallelism,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": git_commit(root),
        "seed": seed,
    }


# ---------------------------------------------------------------------------
# Result
# ---------------------------------------------------------------------------

#: End-to-end metrics: name -> unit. Every workload prints all of them.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}


#: Per-layer metrics (traced run): name -> unit. Every workload prints
#: all of them; a layer a workload does not exercise reads 0. Unless
#: noted, a value is a mean per operation.
PER_LAYER = {
    # session + setup (once per run)
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.backfill_s": "s",
    "setup.warmup_s": "s",
    # plans: DataFrame construction, and the jobs it runs
    "plans.build_s": "s", "plans.build_stages": "count", "py4j.build_calls": "count",
    # Spark driver
    "catalyst.plan_s": "s", "engine.execute_s": "s", "engine.driver_s": "s",
    "engine.stages_run": "count", "engine.stages_skipped": "count", "engine.tasks": "count",
    # executors
    "executor.cpu_s": "s", "executor.run_s": "s", "executor.gc_s": "s",
    "scan.input_mb": "MB", "shuffle.read_mb": "MB", "shuffle.write_mb": "MB",
    # Arrow Python-worker seam (operators.enrich)
    "arrow.python_mb": "MB", "arrow.python_s": "s", "arrow.boot_s": "s",
    # streaming ingest and upsert (per producer cycle)
    "ingest.wait_s": "s", "ingest.service_s": "s", "streaming.start_s": "s",
    "streaming.latest_offset_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.batches": "count", "streaming.input_rows": "count", "write.output_mb": "MB",
    # stored tables (at the end of the run)
    "store.rows": "count", "store.files": "count", "store.mb": "MB",
    "checkpoint.files": "count",
    # rag / operators.serving (per request of each type)
    "dashboard.watch_s": "s", "dashboard.chart_s": "s", "dashboard.ask_s": "s",
    "dashboard.ask_input_mb": "MB",
    # host, recorded only
    "host.calib_s": "s", "host.scan_s": "s",
    # the traced run itself: its median latency, against the untraced
    # run's latency_p50_s, is the tracing overhead
    "trace.latency_p50_s": "s",
}


class Layers:
    """Per-layer accumulator: ``add`` sums over operations (reported as a
    mean per operation), ``set`` records a per-run value."""

    def __init__(self) -> None:
        self.sums: dict[str, float] = defaultdict(float)
        self.fixed: dict[str, float] = {}

    def add(self, name: str, value: float) -> None:
        if name not in PER_LAYER:
            raise KeyError(name)
        self.sums[name] += value

    def set(self, name: str, value: float) -> None:
        if name not in PER_LAYER:
            raise KeyError(name)
        self.fixed[name] = value

    def values(self, n_ops: int, per: dict[str, int] | None = None) -> dict[str, float]:
        """Every per-layer metric; ``per`` overrides the divisor of a sum
        (a per-request-type mean)."""
        per = per or {}
        out = dict.fromkeys(PER_LAYER, 0.0)
        for k, v in self.sums.items():
            out[k] = v / max(1, per.get(k, n_ops))
        out.update(self.fixed)
        return out


class Run:
    """State of one benchmark run, passed to the workload.

    The workload wraps its set-up phases in :meth:`phase`, calls
    :meth:`start_timed` right before its first timed operation and
    :meth:`end_timed` after its last; the process-tree CPU of the timed
    phase is read at those two points."""

    def __init__(self, *, root: str, work: str, seed: int, seconds: float, cores: int,
                 smoke: bool, trace: bool, corrupt_reference: bool,
                 t_process: float) -> None:
        self.root, self.work, self.seed, self.cores = root, work, seed, cores
        self.seconds, self.smoke, self.corrupt_reference = seconds, smoke, corrupt_reference
        self.t_process = t_process
        self.layers = Layers()
        self.tracer: Tracer | None = None
        self.trace = trace
        self.tree = ProcTree()
        self.setup_s = 0.0
        #: traced run: the layer spans of all operations over their latency
        self.span_sum_ratio: float | None = None
        self.timed_s = 0.0
        self.cpu_s = 0.0
        self._cpu0 = 0.0
        self.rss: RssSampler | None = None

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.layers.set(f"setup.{name}_s", time.perf_counter() - t0)

    def start_timed(self) -> None:
        self.setup_s = time.perf_counter() - self.t_process
        self._cpu0 = self.tree.cpu_s()
        self.rss = RssSampler(self.tree)

    def end_timed(self, timed_s: float) -> None:
        self.cpu_s = self.tree.cpu_s() - self._cpu0
        self.timed_s = timed_s
        self.rss.stop()


def end_to_end(setup_s: float, latencies: list[float], timed_s: float,
               cpu_s: float, rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metric values and the latency summary."""
    st = latency_stats(latencies)
    n = len(latencies)
    values = {
        "setup_s": setup_s,
        "latency_p50_s": st["p50"],
        "latency_tail_s": st["tail"],
        "ops_per_s": n / timed_s,
        "cpu_s_per_op": cpu_s / n,
        "peak_rss_mb": rss_mb,
    }
    return values, st


def emit(values: dict, units: dict, attempted: int, failed: int) -> None:
    """Print the result line: the last line of standard output."""
    missing = set(units) - set(values)
    if missing:
        raise BenchError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }), flush=True)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
